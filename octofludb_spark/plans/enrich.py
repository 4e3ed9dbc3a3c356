"""Enrichment rounds: the reference's pull-DAG steps 4-6
(reference: octofludb/ui.py:209-290) — query the graph, derive a
table, re-extract triples from it with the SAME table-typing
semantics, and merge idempotently back into the store.

  enrich_classifications — fetch-unclassified -> classifier ->
    classification table (IrregularSegmentTable semantics: first
    column forced segment) -> merge.  The octoFLU classifier is an
    external tool (script.py:175-277); callers inject any
    (seqid, seq) -> (segment_subtype, clade, gl_clade) function; a
    deterministic stub is provided for tests/pipelines without it.
  enrich_constellations — delete old f:constellation, rebuild from
    segments.rq + the 6-slot assembly, merge (ui.py:240-254).
  enrich_subtypes — subtype priority lattice -> split genbank
    (strain_name) vs epiflu (isolate_id) tables -> merge
    (ui.py:258-290).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, Optional

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from octofludb_spark.plans.maintenance import delete_predicate
from octofludb_spark.plans.reports import (
    constellations,
    subtypes_report,
    unclassified_swine,
)
from octofludb_spark.plans.views import GraphViews
from octofludb_spark.sources.store import TripleStore

_TRIPLE_SCHEMA = T.StructType([
    T.StructField("subject", T.StringType()),
    T.StructField("predicate", T.StringType()),
    T.StructField("object_lex", T.StringType()),
    T.StructField("object_dtype", T.StringType()),
])


def df_table_triples(df: DataFrame, segment_key: bool = False) -> DataFrame:
    """Re-extract triples from a derived table DataFrame with the
    reference's prep_table semantics (ui.py:838-879): header-named
    columns, column-level type inference; with segment_key the FIRST
    column is forced to be a segment id (IrregularSegmentTable —
    prep_table counter-intuitively selects that class when NO
    segment_key argument is given, ui.py:856-868).

    Inference runs over the WHOLE table (coalesce(1) + concat of the
    partition's Arrow batches), exactly like the reference's
    whole-file prep_table — per-batch inference would make column
    types, and therefore the emitted triples, depend on partitioning.
    Derived enrich tables are strain-cardinality (orders of magnitude
    below the corpus), so a single partition is the honest bound; a
    table that outgrew one executor would need a two-pass global
    goodness aggregation instead."""
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from octofludb_spark.extract.emit import TypedColumn, emit_table
        from octofludb_spark.extract.infer import type_table, typed
        from octofludb_spark.functions import recognizers as R

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        data = {c: [None if v is None else str(v) for v in pdf[c]]
                for c in cols}
        table: list[TypedColumn] = []
        names = list(data.keys())
        if segment_key:
            table.append(typed(R.IRREGULAR_SEGMENT, data[names[0]]))
            names = names[1:]
        table.extend(type_table({k: data[k] for k in names}))
        out = emit_table(table)
        yield out.rename(columns={
            "s": "subject", "p": "predicate",
            "o": "object_lex", "dt": "object_dtype"})

    return df.coalesce(1).mapInPandas(run, _TRIPLE_SCHEMA)


def stub_classifier(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for octoFLU (the real tool shells out to
    ./octoFLU.sh): derives segment_subtype / clade / gl_clade from the
    sequence digest.  Columns in: (seqid, seq); out: the 4-column
    classification table (ui.py:499 header)."""
    subs = ["H1", "H3", "N1", "N2", "PB2", "PB1", "PA", "NP", "M", "NS"]
    clades = {"H1": ["alpha", "beta", "gamma"], "H3": ["2010.1", "2010.2"],
              "N1": ["Classical"], "N2": ["1998A", "2002A"]}
    gl = ["1A.1.1", "1A.3.3.2", "1B.2.1", "3.1990.4.1"]
    rows = []
    for seqid, seq in zip(pdf["seqid"], pdf["seq"]):
        h = int(hashlib.md5(str(seq).encode()).hexdigest()[:8], 16)
        sub = subs[h % len(subs)]
        clade = clades.get(sub, ["pdm", "TRIG", "LAIV"])[h % 3 % len(
            clades.get(sub, ["pdm", "TRIG", "LAIV"]))]
        rows.append((seqid, sub, clade, gl[h % len(gl)]))
    return pd.DataFrame(
        rows, columns=["seqid", "segment_subtype", "clade", "gl_clade"])


def enrich_classifications(
    spark: SparkSession,
    store: TripleStore,
    classifier: Callable[[pd.DataFrame], pd.DataFrame] = stub_classifier,
) -> int:
    """unclassified swine sequences -> classifier -> merge
    (ui.py:209-238).  Returns the number of classified sequences."""
    v = GraphViews(store.read(spark, "triples"))
    unclassified = unclassified_swine(v)

    out_schema = T.StructType([
        T.StructField("seqid", T.StringType()),
        T.StructField("segment_subtype", T.StringType()),
        T.StructField("clade", T.StringType()),
        T.StructField("gl_clade", T.StringType()),
    ])

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield classifier(pdf)

    classified = unclassified.mapInPandas(run, out_schema)
    triples = df_table_triples(classified, segment_key=True)
    n = triples.persist().count()
    if n:
        store.merge_triples(spark, triples, stage="enrich-classifications")
    triples.unpersist()
    return n


def enrich_constellations(spark: SparkSession, store: TripleStore) -> int:
    """delete-constellations -> rebuild -> merge (ui.py:240-254)."""
    delete_predicate(spark, store, "constellations")
    v = GraphViews(store.read(spark, "triples"))
    consts = constellations(v).withColumnRenamed("strain", "strain_name")
    # reference: prep_table(constellation_table) with NO segment_key
    # -> IrregularSegmentTable (ui.py:251,856-868): the strain-name
    # column is a forced match-anything identifier, so a constellation
    # attaches even to names p_strain cannot parse, and no
    # strain_name/barcode/state self-triples are emitted
    triples = df_table_triples(consts, segment_key=True)
    n = triples.persist().count()
    if n:
        store.merge_triples(spark, triples, stage="enrich-constellations")
    triples.unpersist()
    return n


def enrich_subtypes(spark: SparkSession, store: TripleStore) -> int:
    """subtype lattice -> strain/isolate tables -> merge
    (ui.py:258-290; the genbank/epiflu split keeps strain_name vs
    isolate_id typing deterministic)."""
    v = GraphViews(store.read(spark, "triples"))
    rep = subtypes_report(v)
    strains = rep.where(~F.col("strain_name").contains("EPI_ISL")) \
        .select("strain_name", "subtype")
    isolates = rep.select(
        F.explode("isolates").alias("isolate_id"), "subtype"
    ).unionByName(
        rep.where(F.col("strain_name").contains("EPI_ISL"))
        .select(F.col("strain_name").alias("isolate_id"), "subtype")
    ).where(F.col("isolate_id") != "")
    t1 = df_table_triples(strains)
    t2 = df_table_triples(isolates)
    both = t1.unionByName(t2).persist()
    n = both.count()
    if n:
        store.merge_triples(spark, both, stage="enrich-subtypes")
    both.unpersist()
    return n
