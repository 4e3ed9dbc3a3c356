"""Property-based checks (hypothesis) for the pure layers, plus
equivalence of the dual execution strategies (driver vs distributed
CC; broadcast vs full-shuffle canonicalize)."""

import string

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from octofludb_spark.functions.dates import parse_date_series
from octofludb_spark.functions.uri import make_uri, make_uri_series

# --- pure-function properties ----------------------------------------------

text_st = st.text(
    alphabet=string.ascii_letters + string.digits + " -_/.()",
    min_size=0, max_size=30,
)


@given(st.lists(text_st, min_size=1, max_size=20))
@settings(max_examples=60, deadline=None)
def test_make_uri_series_matches_scalar(xs):
    s = pd.Series(xs, dtype=object)
    got = make_uri_series(s).tolist()
    want = [make_uri(x) for x in xs]
    assert got == want


@given(st.lists(text_st, min_size=1, max_size=20))
@settings(max_examples=60, deadline=None)
def test_date_parser_total_and_stable(xs):
    """Never raises; parsing twice gives identical output; every clean
    has a 4-digit year prefix."""
    s = pd.Series(xs, dtype=object)
    a = parse_date_series(s)
    b = parse_date_series(s)
    assert a["clean"].tolist() == b["clean"].tolist()
    for v in a["clean"]:
        if v is not None:
            assert len(v) >= 4 and v[:4].isdigit()


@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                min_size=1, max_size=60))
@settings(max_examples=50, deadline=None)
def test_driver_union_find_is_correct(pairs):
    """Union-find components equal a BFS ground truth."""
    from octofludb_spark.ops.cc import _driver_union_find

    edges = [(f"n{a}", f"n{b}") for a, b in pairs if a != b]
    if not edges:
        return
    comp = dict(_driver_union_find(edges))
    # ground truth via BFS
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen: dict = {}
    for start in sorted(adj):
        if start in seen:
            continue
        stack, members = [start], []
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen[x] = None
            members.append(x)
            stack.extend(adj[x])
        rep = min(members)
        for m in members:
            seen[m] = rep
    assert comp == seen


# --- dual-strategy equivalence on Spark ------------------------------------

pytestmark_spark = pytest.mark.spark


@pytest.mark.spark
def test_cc_distributed_equals_driver(spark):
    import random

    rnd = random.Random(7)
    edges = [(f"v{rnd.randint(0, 60)}", f"v{rnd.randint(0, 60)}")
             for _ in range(120)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    from octofludb_spark.ops.cc import connected_components

    a = {(r.node, r.component) for r in
         connected_components(df, driver_threshold=10**9).collect()}
    b = {(r.node, r.component) for r in
         connected_components(df, driver_threshold=0).collect()}
    assert a == b


@pytest.mark.spark
def test_canonicalize_strategies_agree(spark):
    import random

    rnd = random.Random(3)
    rows = []
    for i in range(300):
        s = f"e{rnd.randint(0, 40)}"
        o = f"e{rnd.randint(0, 40)}"
        dt = "uri" if rnd.random() < 0.5 else ""
        rows.append((s, f"p{rnd.randint(0, 3)}", o, dt))
    trips = spark.createDataFrame(
        rows, ["subject", "predicate", "object_lex", "object_dtype"]
    ).dropDuplicates()
    mapping = spark.createDataFrame(
        [(f"e{i}", f"e{i % 5}") for i in range(10, 30)],
        ["node", "canonical"],
    )
    from octofludb_spark.ops.canonicalize import canonicalize

    default = {tuple(r) for r in canonicalize(trips, mapping, True).collect()}
    exact = {tuple(r) for r in canonicalize(trips, mapping, False).collect()}
    assert default == exact


@pytest.mark.spark
def test_salted_join_spreads_hub_key(spark):
    """north_rule skew handling: one hub key's rows land on multiple
    reducers after salted_join, and the left-join variant passes
    unmatched keys through (equality with plain joins is covered by
    test_canonicalize_strategies_agree's use_broadcast=False leg)."""
    from pyspark.sql import functions as F

    from octofludb_spark.ops.canonicalize import salted_join

    big = spark.range(20000).select(
        F.lit("H1N1").alias("k"), F.col("id").alias("payload"))
    dim = spark.createDataFrame([("H1N1", "canon")], ["k", "v"])

    out = salted_join(big, dim, "k", nsalt=16)
    assert out.count() == 20000
    # structural: the join is keyed on (k, _salt), so the hub key
    # cannot serialize onto one reducer
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan
    # distribution: at test scale the optimizer auto-broadcasts (both
    # sides are tiny), which hides the repartitioning that salting
    # exists for — disable broadcast/AQE to see the shuffle-join shape
    # a hub key meets at real scale
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = salted_join(big, dim, "k", nsalt=16)
        nparts = (shuffled.withColumn("p", F.spark_partition_id())
                  .select("p").distinct().count())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    assert nparts > 1

    late = spark.range(5).select(F.lit("H3N2").alias("k"),
                                 F.col("id").alias("payload"))
    left = salted_join(big.unionByName(late), dim, "k", nsalt=8, how="left")
    assert left.count() == 20005
    assert left.where(F.col("v").isNull()).count() == 5


@pytest.mark.spark
def test_auto_salted_join_wiring(spark):
    """skew_report's measurement half auto-wired into the salting
    treatment: a 90%-hub key triggers the salted plan at the probe's
    nsalt, a uniform key degrades to the plain join, and BOTH return
    exactly the plain join's rows."""
    from pyspark.sql import functions as F

    from octofludb_spark.ops.skew import auto_salted_join, salt_decision

    big = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, "HUB")
        .otherwise(F.concat(F.lit("k"), F.col("id") % 7)).alias("k"),
        F.col("id").alias("payload"))
    dim = big.select("k").distinct().withColumn("tag", F.md5("k"))

    d = salt_decision(big, "k")
    assert d["is_hub"] and d["nsalt"] == 1800 * 32 // 2000  # 28

    joined, dec = auto_salted_join(big, dim, "k")
    assert dec["nsalt"] == d["nsalt"]
    assert "_salt" in joined._jdf.queryExecution().analyzed().toString()
    plain = big.join(dim, on="k")
    assert sorted(map(tuple, joined.collect())) \
        == sorted(map(tuple, plain.collect()))

    uniform = spark.range(2000).select(
        (F.col("id") % 400).cast("string").alias("k"),
        F.col("id").alias("payload"))
    udim = uniform.select("k").distinct().withColumn("tag", F.md5("k"))
    ujoined, udec = auto_salted_join(uniform, udim, "k")
    assert not udec["is_hub"] and udec["nsalt"] == 1
    assert "_salt" not in ujoined._jdf.queryExecution().analyzed().toString()
    assert ujoined.count() == 2000

    # empty relation: decision degrades to the plain join, no crash
    assert salt_decision(big.limit(0), "k")["nsalt"] == 1


@pytest.mark.spark
def test_canonicalize_auto_salt_agrees(spark):
    """canonicalize(auto_salt=True) — probe-sized salted dictionary
    joins — returns exactly the broadcast path's triples on a
    hub-skewed alias set (every alias maps to one canonical node)."""
    from pyspark.sql import functions as F

    from octofludb_spark.ops.canonicalize import canonicalize

    trips = spark.range(3000).select(
        F.concat(F.lit("alias"), F.col("id") % 1200).alias("subject"),
        F.lit("p").alias("predicate"),
        F.when(F.col("id") % 3 == 0,
               F.concat(F.lit("alias"), (F.col("id") + 7) % 1200))
        .otherwise(F.lit("lit")).alias("object_lex"),
        F.when(F.col("id") % 3 == 0, "uri").otherwise("").alias(
            "object_dtype"))
    mapping = spark.range(1200).select(
        F.concat(F.lit("alias"), F.col("id")).alias("node"),
        F.lit("CANON").alias("canonical"))  # one hub canonical node

    bc = {tuple(r) for r in canonicalize(trips, mapping, True).collect()}
    auto = {tuple(r) for r in canonicalize(
        trips, mapping, use_broadcast=False, auto_salt=True).collect()}
    assert bc == auto and len(bc) > 0


@pytest.mark.spark
def test_shingles_plan_has_no_exchange(spark):
    """PLANS.md claim, structurally enforced: shingle generation (no
    DF cap) compiles to ZERO Exchanges — per-doc distinct equals
    global (doc_id, shingle) distinct, so no shuffle is ever needed."""
    from octofludb_spark.scale.dedup import shingles

    docs = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(100)],
        "doc_id long, text string")
    plan = shingles(docs, max_df=None)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.spark
def test_canonicalize_broadcasts_the_mapping(spark):
    """PLANS.md claim, structurally enforced: the canonical rewrite
    joins the (small) mapping via BroadcastHashJoin on both the
    subject and the object side — the triple relation never shuffles."""
    from octofludb_spark.ops.canonicalize import canonicalize

    triples = spark.createDataFrame(
        [(f"s{i}", "p", f"s{(i + 1) % 50}", "uri") for i in range(500)],
        "subject string, predicate string, object_lex string, object_dtype string")
    mapping = spark.createDataFrame(
        [(f"s{i}", "s0") for i in range(50)], "node string, canonical string")
    out = canonicalize(triples, mapping, use_broadcast=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
