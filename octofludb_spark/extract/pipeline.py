"""The Spark extraction pipeline: source-record table -> triple table.

Stage layout (one checkpointable stage each, SURVEY.md §3.1):
  1. extract  — mapInPandas over source partitions (NO shuffle): parse
     + recognize + relate + emit, plus the per-row content-sha256
     invariant (BASELINE.json input_hint).
  2. dedup    — dropDuplicates on (subject, predicate, object_lex,
     object_dtype); Catalyst plans partial (map-side) aggregation
     before the single hash-partition exchange.
  3. link     — owl:sameAs connected components (ops/cc.py).
  4. canon    — broadcast-join canonical IRIs (ops/canonicalize.py).
  5. store    — bucketed manifest-swap parquet store (sources/store.py).

Scale notes: stage 1 is embarrassingly parallel and Arrow-batched; the
only wide exchange before storage is the dedup, whose key space (the
triple itself) is near-uniform — hub ENTITIES (H1N1, "swine") do not
skew it because the full (s,p,o) tuple is the key.  Skew handling for
joins OVER the store lives in plans/views.py.
"""

from __future__ import annotations

import hashlib

import numpy as np
from typing import Iterator, Optional

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from octofludb_spark.extract.recipes import RECIPES, tag_node_triples
from octofludb_spark.functions.uri import make_tag_uri

TRIPLE_FIELDS = ["subject", "predicate", "object_lex", "object_dtype"]
LINEAGE_FIELDS = ["src_repo", "src_path", "src_commit", "content_sha256", "sha_ok"]

TRIPLE_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType()) for f in TRIPLE_FIELDS]
    + [
        T.StructField("src_repo", T.StringType()),
        T.StructField("src_path", T.StringType()),
        T.StructField("src_commit", T.StringType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("sha_ok", T.BooleanType()),
    ]
)


def extract_triples(
    source: DataFrame,
    tag: Optional[str] = None,
    run_ts: Optional[str] = None,
) -> DataFrame:
    """Stage 1: parse + recognize + emit, map-side only."""
    taguri = make_tag_uri(tag) if tag else None

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            # per-row sha256 invariant (BASELINE input_hint)
            shas = [
                hashlib.sha256(c.encode("utf-8")).hexdigest()
                for c in pdf["content"]
            ]
            recorded = pdf["content_sha256"] if "content_sha256" in pdf \
                else pd.Series([None] * len(pdf))
            sha_ok = [
                r is None or s == r for s, r in zip(shas, recorded)
            ]
            # group the batch's files by lang; each recipe runs ONCE
            # per batch over all its files (pandas overhead amortizes)
            frames = []
            for lang, grp in pdf.groupby("lang", sort=False):
                recipe = RECIPES.get(lang)
                if recipe is None:
                    continue
                items = list(zip(grp.index.to_numpy(), grp["content"]))
                trips = recipe(items, taguri=taguri)
                if len(trips):
                    frames.append(trips)
            if tag:
                for i, path in enumerate(pdf["path"]):
                    tn = tag_node_triples(tag, path, run_ts)
                    frames.append(tn.assign(src=np.int64(i)))
            if not frames:
                continue
            out = pd.concat(frames, ignore_index=True).rename(
                columns={"s": "subject", "p": "predicate",
                         "o": "object_lex", "dt": "object_dtype"}
            )
            src = out["src"].to_numpy()
            valid = src >= 0
            src_safe = np.where(valid, src, 0)
            def attach(col_vals, missing=""):
                vals = np.asarray(list(col_vals), dtype=object)[src_safe]
                return np.where(valid, vals, missing)
            out["src_repo"] = attach(pdf["repo"])
            out["src_path"] = attach(pdf["path"])
            out["src_commit"] = attach(pdf["commit"])
            out["content_sha256"] = attach(shas)
            out["sha_ok"] = np.where(
                valid, np.asarray(sha_ok, dtype=object)[src_safe], True
            ).astype(bool)
            yield out.drop(columns=["src"])

    return source.mapInPandas(process, TRIPLE_SCHEMA)


def dedup_triples(raw: DataFrame) -> DataFrame:
    """Stage 2: global set semantics (README.md:96 'no duplicate
    triples').  Key = the whole triple; partial aggregation happens
    map-side before one exchange."""
    return raw.select(*TRIPLE_FIELDS).dropDuplicates(TRIPLE_FIELDS)


def lineage_metrics(raw: DataFrame) -> DataFrame:
    """Per-source-partition lineage + metrics rows (north_rule):
    triples emitted, distinct subjects, sha-invariant violations."""
    return (
        raw.groupBy("src_repo", "src_path", "src_commit", "content_sha256")
        .agg(
            F.count("*").alias("n_triples"),
            F.countDistinct("subject").alias("n_subjects"),
            F.sum(F.when(~F.col("sha_ok"), 1).otherwise(0)).alias("sha_violations"),
        )
    )


def run_extraction(
    source: DataFrame,
    tag: Optional[str] = None,
    run_ts: Optional[str] = None,
) -> tuple[DataFrame, DataFrame]:
    """extract + dedup; returns (triples, lineage_metrics)."""
    raw = extract_triples(source, tag=tag, run_ts=run_ts)
    return dedup_triples(raw), lineage_metrics(raw)
