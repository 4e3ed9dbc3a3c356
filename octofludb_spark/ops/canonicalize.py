"""Canonical-IRI rewriting: map every subject / URI-object through the
connected-component dictionary (SURVEY.md §1.5), replacing GraphDB's
sameAs expansion with an explicit, broadcastable join.

The dictionary is tiny relative to the triple store (only aliased ids
appear), so the join is a broadcast hash join — no shuffle of the big
side and hub-entity skew cannot bite.  If the dictionary outgrows the
broadcast threshold the helper falls back to a salted repartition
join: the BIG side keeps its natural partitioning, the dictionary is
exploded SALT ways so no single reducer owns a hub key (north_rule).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from octofludb_spark.functions.uri import DT_URI

BROADCAST_LIMIT = 5_000_000  # dictionary rows safely broadcastable
CANON_COLS = ["subject", "predicate", "object_lex", "object_dtype"]


def canonical_map(components: DataFrame) -> DataFrame:
    """(node, canonical) — identity rows omitted."""
    return (
        components.where(F.col("node") != F.col("component"))
        .select(F.col("node"), F.col("component").alias("canonical"))
    )


def alias_join(triples: DataFrame, mapping: DataFrame,
               join=None) -> DataFrame:
    """``triples`` plus ``_s_canon`` (the subject's canonical IRI) and
    ``_o_canon`` (a URI object's canonical IRI), NULL where unmapped.
    ``join(df, dim, key)`` left-joins one renamed side of the
    dictionary; the default broadcasts it."""
    join = join or (lambda df, dim, key:
                    df.join(F.broadcast(dim), on=key, how="left"))
    s_map = (mapping.withColumnRenamed("node", "subject")
             .withColumnRenamed("canonical", "_s_canon"))
    o_map = (mapping.withColumnRenamed("node", "object_lex")
             .withColumnRenamed("canonical", "_o_canon"))
    joined = join(join(triples, s_map, "subject"), o_map, "object_lex")
    return joined.withColumn(
        "_o_canon",
        F.when(F.col("object_dtype") == DT_URI, F.col("_o_canon")),
    )


def canonical_rows(joined: DataFrame) -> DataFrame:
    """The distinct canonical forms of ``alias_join``'s rows
    (coalesce leaves unmapped ids as-is)."""
    return joined.select(
        F.coalesce("_s_canon", "subject").alias("subject"),
        "predicate",
        F.coalesce("_o_canon", "object_lex").alias("object_lex"),
        "object_dtype",
    ).dropDuplicates(CANON_COLS)


def canonicalize(triples: DataFrame, mapping: DataFrame,
                 use_broadcast: Optional[bool] = None,
                 auto_salt: bool = False) -> DataFrame:
    """Rewrite subject and URI-typed objects to canonical IRIs.

    Exact set semantics at any alias density: every triple is rewritten
    in ONE pass and deduplicated once — the single wide shuffle doubles
    as the store's bucket-partitioning pass.  (A two-branch
    untouched/touched union would scan and join the store twice for
    the same result.)  With the dictionary broadcast both dictionary
    joins keep the big side map-side.

    ``use_broadcast=None`` decides by the dictionary's row count
    (broadcast up to BROADCAST_LIMIT; a parquet count is metadata-only).
    With ``use_broadcast=False`` the two dictionary joins run as SALTED
    repartition joins: canonical IRIs are hub keys by construction —
    every alias of H1N1 maps to the same canonical node — so a plain
    shuffled join would send one reducer the whole hub.  salted_join
    spreads each key over nsalt reducers (output equality with the
    broadcast path is property-tested).

    ``auto_salt=True`` (only meaningful with ``use_broadcast=False``)
    sizes each salted join from a skew probe of the actual data
    instead of the fixed default: ops/skew.salt_decision measures the
    subject / uri-object key concentration and its nsalt hint drives
    the join — the measurement half of the north_rule's skew handling
    wired into the treatment half.  A non-hub profile degrades to the
    plain repartition join (nsalt=1 would only add a constant salt
    column)."""
    if use_broadcast is None:
        use_broadcast = mapping.count() <= BROADCAST_LIMIT
    if use_broadcast:
        return canonical_rows(alias_join(triples, mapping))
    if auto_salt:
        from octofludb_spark.ops.skew import salt_decision
        nsalt = {k: salt_decision(triples, k)["nsalt"]
                 for k in ("subject", "object_lex")}

        def join(df, dim, key):
            if nsalt[key] <= 1:
                return df.join(dim, on=key, how="left")
            return salted_join(df, dim, key, nsalt=nsalt[key], how="left")
    else:
        def join(df, dim, key):
            return salted_join(df, dim, key, how="left")
    return canonical_rows(alias_join(triples, mapping, join))


def salted_join(big: DataFrame, dim: DataFrame, key: str, nsalt: int = 16,
                how: str = "inner") -> DataFrame:
    """Skew-proof equi-join helper for hub keys (e.g. subtype nodes):
    salt the big side, explode-replicate the dim side (north_rule).
    Every big row carries exactly one salt and the dim side is
    replicated to all salts, so the result equals the plain join for
    ``inner`` and ``left`` alike — but one hub key's rows now land on
    nsalt reducers instead of one."""
    # per-row salt: hash of the whole row spreads one hub key over
    # nsalt reducers deterministically
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(nsalt))
    )
    dim_s = dim.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(nsalt)])))
    return big_s.join(dim_s, on=[key, "_salt"], how=how).drop("_salt")
