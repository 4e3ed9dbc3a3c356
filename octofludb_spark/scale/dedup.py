"""Deduplication operators for a large-scale training-data pipeline,
over a ``documents(doc_id, text, ...)`` table.

Every operator is expressed with built-in Spark SQL functions (JVM,
whole-stage codegen) — no Python in the hot path.  Hash functions are
md5-based so an external engine (the DuckDB oracle) reproduces results
bit-for-bit; at production scale xxhash64 is a drop-in swap.

Scale notes:
  * exact dedup — one hash-agg shuffle on the digest.
  * n-gram Jaccard — shingle explode (map-side), self-join on shingle
    (the classic candidate-pair generation); a stop-word shingle in k
    docs would make k² candidate rows, so shingles with document
    frequency > MAX_SHINGLE_DF are dropped BEFORE the self-join (the
    dropped count is logged — no silent caps).
  * MinHash+LSH — signatures via groupBy(doc) min-agg (one shuffle),
    banding turns the O(n²) pair space into per-bucket joins; the
    exact-Jaccard verify step runs ONLY over the LSH candidate pairs
    (candidate ⋈ shingle explode, work ∝ |candidates|), never the
    full shingle self-join.
  * SimHash — 16-bit md5-parity fingerprint, pure projection + one agg.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger("octofludb_spark.dedup")

N_PERM = 8          # minhash permutations
BAND_SIZE = 2       # rows per LSH band -> 4 bands
MAX_SHINGLE_DF = 200  # candidate-pair cap: drop shingles in more docs


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content digest: (digest, n_docs,
    canonical_doc_id = min)."""
    return (
        docs.select(F.md5(F.col("text")).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def shingles(docs: DataFrame, n: int = 3,
             max_df: int | None = None) -> DataFrame:
    """Distinct n-word shingles per document (word = single-space
    token), via a JVM-side transform over the word array.

    ``max_df`` drops shingles whose document frequency exceeds the
    cap BEFORE any self-join consumes them (skew bound: a shingle in
    k docs contributes k² candidate rows).  The dropped-shingle count
    is logged so the cap is never silent."""
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    idx = F.when(
        F.size("w") >= n, F.sequence(F.lit(0), F.size("w") - n)
    ).otherwise(F.array().cast("array<int>"))
    # per-doc distinct is done map-side (array_distinct before the
    # explode) — globally distinct (doc_id, shingle) needs NO shuffle
    # because a doc's shingles never span partitions
    sh = words.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", *[F.element_at("w", (i + k + 1).cast("int"))
                               for k in range(n)]
                    ),
                )
            )
        ).alias("shingle"),
    )
    if max_df is not None:
        # The over-cap set stays DISTRIBUTED: over a web-scale corpus
        # the number of shingles with df > cap is plausibly 1e7-1e8 —
        # a driver collect (or a forced broadcast) would OOM.  The
        # left_anti runs as a plain shuffled anti-join and AQE picks
        # the build side / downgrades to broadcast when the hot set
        # really is tiny.  The tiny aggregated DF is cached so the
        # count (logged — the cap is never silent) and the anti-join
        # share one aggregation pass over the shingles.
        hot = (
            sh.groupBy("shingle").agg(F.count("*").alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
            .persist()
        )
        n_hot = hot.count()
        if n_hot:  # logged: NOT a silent cap
            log.warning("shingle DF cap: dropping %d shingles with df > %d",
                        n_hot, max_df)
            sh = sh.join(hot, "shingle", "left_anti")
        else:
            hot.unpersist()
    return sh


def _score_pairs(inter: DataFrame, sh: DataFrame,
                 threshold: float) -> DataFrame:
    """Shared scoring tail for BOTH the exact and the LSH path: join
    per-doc shingle counts onto (doc_x, doc_y, inter) and keep pairs
    with Jaccard >= threshold.  One copy keeps the rounding in
    lockstep with the DuckDB oracles' ROUND(..., 5) everywhere."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_x")
                   .withColumnRenamed("n_sh", "n_x"), "doc_x")
        .join(sizes.withColumnRenamed("doc_id", "doc_y")
              .withColumnRenamed("n_sh", "n_y"), "doc_y")
        .withColumn(
            "jaccard",
            F.round(F.col("inter")
                    / (F.col("n_x") + F.col("n_y") - F.col("inter")), 5),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_x", "doc_y", "jaccard")
    )


def _verify_pairs(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification restricted to the given candidate
    pairs: explode each pair by doc_x's shingles, match doc_y's on
    (doc_y, shingle), count.  Work ∝ |cand| × avg shingles — NEVER the
    full shingle self-join."""
    shx = sh.select(F.col("doc_id").alias("doc_x"), "shingle")
    shy = sh.select(F.col("doc_id").alias("doc_y"), "shingle")
    inter = (
        cand.join(shx, "doc_x")
        .join(shy, ["doc_y", "shingle"])
        .groupBy("doc_x", "doc_y")
        .agg(F.count("*").alias("inter"))
    )
    return _score_pairs(inter, sh, threshold)


def jaccard_pairs(docs: DataFrame, threshold: float = 0.2,
                  n: int = 3, max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard >= threshold:
    (doc_x, doc_y, jaccard).  Candidate generation is the classic
    shingle self-join, skew-bounded by the ``max_df`` cap; the
    intersection count falls out of the same join (one pass)."""
    sh = shingles(docs, n, max_df=max_df)
    a = sh.select(F.col("doc_id").alias("doc_x"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_y"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_x") < F.col("doc_y"))
        .groupBy("doc_x", "doc_y")
        .agg(F.count("*").alias("inter"))
    )
    return _score_pairs(inter, sh, threshold)


def jaccard_pairs_prefix(docs: DataFrame, threshold: float = 0.2,
                         n: int = 3) -> DataFrame:
    """EXACT n-gram Jaccard pairs via prefix filtering (the AllPairs /
    PPJoin family): same output as ``jaccard_pairs`` but LOSSLESS at
    scale — no shingle-DF cap, no LSH false-negative rate.

    Prefix filter: order every doc's shingles by a global total order
    (ascending document frequency, ties by shingle — rarest first).
    Two sets with Jaccard >= t MUST share an element within their
    first ``|s| - ceil(t*|s|) + 1`` elements, so candidate generation
    joins on prefix shingles only.  Stop-phrase shingles sort LAST and
    almost never enter a prefix — the skew that forces jaccard_pairs'
    df cap is pruned here without dropping anything.

    Plan: one df agg (vocab-sized), one ordering join (token-stream x
    vocab — AQE broadcasts the df side when it fits), one per-doc
    sort_array/slice (map-side after a doc agg), the prefix self-join
    (tiny vs the full shingle self-join), then the shared
    candidate-only verify tail (work ∝ |candidates|)."""
    sh = shingles(docs, n, max_df=None).persist()
    try:
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        per_doc = (
            sh.join(dfreq, "shingle")
            .groupBy("doc_id")
            .agg(F.sort_array(
                F.collect_list(F.struct("df", "shingle"))).alias("st"))
        )
        size = F.size("st")
        # epsilon guard: double rounding may push t*|s| just ABOVE the
        # exact rational (0.2*10 -> 2.0000000000000004 -> ceil 3), and
        # an over-large ceil SHORTENS the prefix — the lossy
        # direction.  Subtracting 1e-9 can only lengthen it: safe.
        p = F.greatest(
            F.lit(1),
            (size - F.ceil(F.lit(threshold) * size - F.lit(1e-9)) + 1)
            .cast("int"),
        )
        pref = per_doc.select(
            "doc_id", size.alias("n_sh"),
            F.explode(F.slice("st", 1, p)).alias("s"),
        ).select("doc_id", "n_sh", F.col("s.shingle").alias("shingle"))
        a = pref.select(F.col("doc_id").alias("doc_x"),
                        F.col("n_sh").alias("n_x"), "shingle")
        b = pref.select(F.col("doc_id").alias("doc_y"),
                        F.col("n_sh").alias("n_y"), "shingle")
        cand = (
            a.join(b, "shingle")
            .where(
                (F.col("doc_x") < F.col("doc_y"))
                # length filter (lenient epsilon — pruning only):
                # J >= t forces t * max(|x|,|y|) <= min(|x|,|y|)
                & (F.least("n_x", "n_y")
                   >= F.lit(threshold) * F.greatest("n_x", "n_y")
                   - F.lit(1e-9))
            )
            .select("doc_x", "doc_y")
            .distinct()
        )
        out = _verify_pairs(cand, sh, threshold).persist()
        out.count()  # materialize while sh is cached
        return out
    finally:
        sh.unpersist()


def containment_pairs(docs: DataFrame, threshold: float = 0.5,
                      n: int = 3,
                      max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """ASYMMETRIC near-dup: shingle-set containment
    C(contained -> container) = |A∩B| / |A| — the signal Jaccard
    misses when a short document is quoted inside a long one (their
    union dwarfs the intersection, but A sits wholly inside B).
    Output: (contained, container, containment) for ordered pairs
    with C >= threshold.

    Plan: same skew-bounded shingle candidate join + one-pass
    intersection count as ``jaccard_pairs``; each unordered candidate
    then emits up to two directed rows — scoring is a projection, no
    extra join."""
    sh = shingles(docs, n, max_df=max_df)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_x"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_y"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_x") < F.col("doc_y"))
        .groupBy("doc_x", "doc_y")
        .agg(F.count("*").alias("inter"))
    )
    both = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_x")
                   .withColumnRenamed("n_sh", "n_x"), "doc_x")
        .join(sizes.withColumnRenamed("doc_id", "doc_y")
              .withColumnRenamed("n_sh", "n_y"), "doc_y")
    )
    fwd = both.select(
        F.col("doc_x").alias("contained"), F.col("doc_y").alias("container"),
        F.round(F.col("inter") / F.col("n_x"), 5).alias("containment"))
    rev = both.select(
        F.col("doc_y").alias("contained"), F.col("doc_x").alias("container"),
        F.round(F.col("inter") / F.col("n_y"), 5).alias("containment"))
    return fwd.unionByName(rev).where(F.col("containment") >= threshold)


def _signatures(sh: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """All n_perm minima in ONE hash-agg shuffle: each permutation's
    hash is a projected column (map-side, codegen) and F.min gives the
    partial-aggregated per-doc minimum — no ×n_perm row explode, no
    second shuffle."""
    mins = sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat_ws("|", F.lit(str(i)), F.col("shingle"))))
        .alias(f"_h{i}")
        for i in range(n_perm)
    ])
    return mins.select(
        "doc_id", F.array(*[f"_h{i}" for i in range(n_perm)]).alias("sig")
    )


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.2,
                      max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """MinHash banding -> candidate pairs -> exact-Jaccard verify
    restricted to the candidates.

    Identical output columns to jaccard_pairs, but the O(n²) pair
    space is pruned TWICE: banding keeps only bucket-colliding pairs,
    and the verify step (``_verify_pairs``) touches shingles only for
    those pairs — there is NO full shingle self-join anywhere in this
    plan (that join is exactly what LSH exists to avoid).

    Cache lifecycle: the shingle/band tables are cached only for this
    call — the result is materialized eagerly and the intermediates
    unpersisted before returning, so repeated calls in a long-lived
    session do not accrete stale cached blocks.  If the (much
    smaller) persisted result is later evicted it recomputes from
    lineage: correct, just slower."""
    sh = shingles(docs, max_df=max_df).persist()
    sig = _signatures(sh)
    # persisted: the band table feeds BOTH sides of the bucket
    # self-join (and through it the verify step) — without the cache
    # the whole shingle->signature subtree is recomputed per side
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(
                    "|", *[F.element_at("sig", b * BAND_SIZE + r + 1)
                           for r in range(BAND_SIZE)]
                )).alias("key"),
            )
            for b in range(N_PERM // BAND_SIZE)
        ])).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key").persist()
    cand = (
        bands.alias("x").join(bands.alias("y"), ["band", "key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_x"),
                F.col("y.doc_id").alias("doc_y"))
        .distinct()
    )
    try:
        out = _verify_pairs(cand, sh, threshold).persist()
        out.count()  # materialize while the intermediate caches are live
        return out
    finally:
        bands.unpersist()
        sh.unpersist()


def minhash_estimate_pairs(docs: DataFrame,
                           max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """Sketch-estimated Jaccard over the LSH candidate pairs:
    (doc_x, doc_y, est_jaccard) where est = matching-permutation
    fraction of the two MinHash signatures — the estimate a pipeline
    uses when exact verification is too expensive to run on every
    candidate.  est is k/N_PERM, an exact rational, so it hashes
    identically on any engine.

    Plan: signatures once (one hash-agg), banding candidates as in
    minhash_lsh_pairs, then ONE join of the signature table onto the
    candidate ids (work ∝ |candidates|); shingles are never touched
    after the signature agg."""
    sh = shingles(docs, max_df=max_df).persist()
    sig = _signatures(sh).persist()
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(
                    "|", *[F.element_at("sig", b * BAND_SIZE + r + 1)
                           for r in range(BAND_SIZE)]
                )).alias("key"),
            )
            for b in range(N_PERM // BAND_SIZE)
        ])).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    cand = (
        bands.alias("x").join(bands.alias("y"), ["band", "key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_x"),
                F.col("y.doc_id").alias("doc_y"))
        .distinct()
    )
    sx = sig.select(F.col("doc_id").alias("doc_x"),
                    F.col("sig").alias("sig_x"))
    sy = sig.select(F.col("doc_id").alias("doc_y"),
                    F.col("sig").alias("sig_y"))
    match = F.size(F.filter(
        F.zip_with("sig_x", "sig_y", lambda a, b: a == b),
        lambda m: m,
    ))
    try:
        out = (
            cand.join(sx, "doc_x").join(sy, "doc_y")
            .select(
                "doc_x", "doc_y",
                F.round(match / F.lit(float(N_PERM)), 5)
                .alias("est_jaccard"),
            )
            .persist()
        )
        out.count()
        return out
    finally:
        sig.unpersist()
        sh.unpersist()


def winnow_fingerprints(docs: DataFrame, k: int = 5,
                        w: int = 4, positions: bool = True) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm, Schleimer
    et al. 2003): from each window of ``w`` consecutive k-gram hashes
    keep the minimum (rightmost on ties), guaranteeing any shared run
    of at least w + k - 1 tokens shares a fingerprint while storing
    only ~2/(w+1) of the hashes.  Output: (doc_id, pos, fp).

    Scale shape: ZERO shuffles — the k-gram hashes, the per-window
    minima, and the distinct selection are all array expressions
    inside one projection (fingerprinting parallelism == scan
    parallelism).  The rightmost-tie rule is encoded in the sort key
    itself (hash || zero-padded (10^8 - pos)), so both engines pick
    identical positions with a plain lexicographic min.

    ``positions=False`` drops the position column and dedups the
    fingerprint set INSIDE the per-doc array (array_distinct over the
    32-char hashes) — callers that only need the per-doc fp SET
    (winnow_pairs) skip an entire corpus-sized distinct() shuffle."""
    from octofludb_spark.ops.lineage import spread_input

    docs = spread_input(docs)  # md5-per-k-gram map stage: floor parallelism
    ws = F.split("text", " ")
    n = F.size(ws)
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
        .otherwise(F.array().cast("array<int>"))
    keys_expr = F.transform(
        idx,
        lambda i: F.concat(
            F.md5(F.concat_ws(" ", F.slice(ws, i + 1, k))),
            F.lpad((F.lit(100_000_000) - i).cast("string"), 9, "0"),
        ),
    )
    # CSE barrier: the window-min lambda below references the keys
    # array per WINDOW; if `keys` stayed an inline expression tree,
    # Spark would re-evaluate the whole md5 chain once per window —
    # O(n^2) hashes per document (measured: 175 s at sf0.1).
    # A Generate (explode of a one-element array) materializes keys
    # once per row, and CollapseProject cannot inline expressions
    # through a Generate — still map-side, still zero shuffles.
    kdf = docs.select(
        "doc_id", F.explode(F.array(keys_expr)).alias("ks"))
    ks = F.col("ks")
    starts = F.when(
        F.size(ks) >= w,
        F.sequence(F.lit(0), F.size(ks) - w),
    ).otherwise(
        # fewer than w windows: a single window over what exists
        F.when(F.size(ks) > 0, F.array(F.lit(0)))
        .otherwise(F.array().cast("array<int>"))
    )
    sel = F.array_distinct(F.transform(
        starts,
        lambda s: F.array_min(F.slice(ks, s + 1, F.lit(w))),
    ))
    if not positions:
        fps = F.array_distinct(
            F.transform(sel, lambda key: F.substring(key, 1, 32)))
        return kdf.select("doc_id", F.explode(fps).alias("fp"))
    return (
        kdf.select("doc_id", F.explode(sel).alias("key"))
        .select(
            "doc_id",
            (F.lit(100_000_000)
             - F.substring("key", 33, 9).cast("long")).alias("pos"),
            F.substring("key", 1, 32).alias("fp"),
        )
    )


def winnow_pairs(docs: DataFrame, k: int = 5, w: int = 4,
                 min_shared: int = 2,
                 max_fp_df: int | None = MAX_SHINGLE_DF,
                 log_hot: bool = False) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing
    fingerprints — MOSS's actual match step: because winnowing
    guarantees any shared w+k-1 token run yields a shared
    fingerprint, this finds overlapping documents while joining only
    the ~2/(w+1)-dense fingerprint sets, never shingles.
    Output: (doc_x, doc_y, n_shared).

    Skew: a boilerplate fingerprint in d docs would create d^2
    candidate rows, so fingerprints with document frequency >
    ``max_fp_df`` are dropped before pair generation (logged — same
    contract as the shingle cap).

    Plan shape — the fingerprint chain (md5 per k-gram + window min,
    the expensive map-side stage) is computed ONCE: group doc ids per
    fingerprint with a single shuffle, drop over-cap groups with a
    LAZY size filter (no action, no persist, nothing retained in the
    cache manager), and explode each group's C(df, 2) pairs in-place
    (df <= max_fp_df bounds the per-group array).  The previous
    fp-keyed self-join evaluated the fingerprint chain three times
    (hot-count action + both join branches — map-side plans have no
    exchange for Spark to reuse): 73 s -> 27 s at sf1.0.

    ``log_hot=True`` pays one extra pass to count and log the dropped
    over-cap fingerprints (the same observability contract as the
    shingle cap); the drop itself happens either way."""
    # positions=False dedups the fp set inside the per-doc array —
    # no corpus-sized distinct() shuffle before the group-by
    fp = winnow_fingerprints(docs, k, w, positions=False)
    grouped = fp.groupBy("fp").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds"))
    if max_fp_df is not None:
        if log_hot:
            n_hot = grouped.where(F.size("ds") > max_fp_df).count()
            if n_hot:
                log.warning("winnow fp cap: dropping %d fingerprints "
                            "with df > %d", n_hot, max_fp_df)
        grouped = grouped.where(F.size("ds") <= max_fp_df)
    ds = F.col("ds")
    pair_arr = F.flatten(F.transform(
        ds,
        lambda x, i: F.transform(
            F.slice(ds, i + 2, F.greatest(F.size(ds) - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("doc_x"), y.alias("doc_y")),
        ),
    ))
    return (
        grouped.where(F.size(ds) >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_x").alias("doc_x"),
                 F.col("p.doc_y").alias("doc_y"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


_HEX = "0123456789abcdef"


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash fingerprint (Charikar 2002): bit j is the sign of the
    sum over distinct words of (word-hash bit j ? +1 : -1).
    (doc_id, simhash).

    Word-hash bit j is the parity of md5 hex digit j for j < 32 and of
    md5(word || '#') hex digit j-32 for 32 <= j < 64 — a pure-SQL hash
    both Spark and DuckDB evaluate identically, so fingerprints are
    cross-engine bit-exact up to the full production 64-bit width.
    Bit 63 makes the long fingerprint negative (two's complement);
    band extraction below masks after the arithmetic shift, so sign
    extension is harmless."""
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in [1, 64]")
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    ).withColumn("h", F.md5("w"))
    if bits > 32:
        words = words.withColumn("h2", F.md5(F.concat(F.col("w"), F.lit("#"))))

    def digit(j: int):
        if j < 32:
            return F.substring("h", j + 1, 1)
        return F.substring("h2", j - 31, 1)

    bit_cols = [
        F.sum(
            F.when((F.instr(F.lit(_HEX), digit(j)) - 1) % 2 == 1, 1)
            .otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = words.groupBy("doc_id").agg(*bit_cols)
    fingerprint = F.lit(0).cast("long")
    for j in range(bits):
        term = F.when(
            F.col(f"b{j}") > 0,
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = fingerprint.bitwiseOR(term)
    return agg.select("doc_id", fingerprint.alias("simhash"))


SIMHASH_BANDS = 4  # legacy 16-bit gate geometry: 4 bands of 4 bits


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       bits: int = 64,
                       n_bands: int | None = None) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= max_hamming:
    (doc_x, doc_y, hamming).

    Scale shape (the pigeonhole banding trick): split the ``bits``-bit
    fingerprint into ``n_bands`` bands; any pair within Hamming
    distance < n_bands must agree EXACTLY on at least one band, so
    candidates come from per-band bucket joins (work ∝ bucket sizes,
    never O(n²)) and are then verified with one popcount(xor).
    Requires max_hamming < n_bands for completeness.

    Production geometry (the default): the standard 64-bit SimHash
    with the minimal complete band count ``max_hamming + 1``, giving
    16-bit bands at max_hamming=3 — 65,536 distinct keys per band, so
    per-band buckets hold ~n/65,536 of the corpus and candidate volume
    stays near-linear.  The old 16-bit/4-band shape (4-bit bands, only
    16 keys → buckets of ~n/16, degenerating toward O(n²/16) at web
    scale) is kept solely as the oracle-gate geometry via explicit
    ``bits=16, n_bands=4``."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if max_hamming >= n_bands:
        raise ValueError("banding is only complete for max_hamming < n_bands")
    if n_bands > bits:
        raise ValueError("n_bands cannot exceed bits")
    # Unequal band widths (Manku et al. 2007 blocks): band b covers
    # [floor(b*bits/n), floor((b+1)*bits/n)) — pigeonhole completeness
    # needs only n_bands > max_hamming, never equal division.
    bounds = [b * bits // n_bands for b in range(n_bands + 1)]
    s = simhash(docs, bits=bits)

    def band_key(lo: int, hi: int):
        width = hi - lo
        mask = F.lit(-1).cast("long") if width >= 64 \
            else F.lit((1 << width) - 1).cast("long")
        return F.shiftright("simhash", lo).bitwiseAND(mask)

    bands = s.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                band_key(bounds[b], bounds[b + 1]).alias("key"),
            )
            for b in range(n_bands)
        ])).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    cand = (
        bands.alias("x").join(bands.alias("y"), ["band", "key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_x"),
                F.col("y.doc_id").alias("doc_y"),
                F.col("x.simhash").alias("hx"),
                F.col("y.simhash").alias("hy"))
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("hx").bitwiseXOR(F.col("hy"))).cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_x", "doc_y", "hamming")
    )


def contaminated_docs(docs: DataFrame, benchmark: DataFrame,
                      n: int = 3) -> DataFrame:
    """Benchmark decontamination: which training documents share at
    least one n-gram with an eval/benchmark suite — (doc_id, n_hits,
    first_bench_id).  ``benchmark`` is (bench_id, text).

    Scale shape: a benchmark suite is tiny next to a training corpus
    (10^5-10^6 eval items vs 10^9+ docs), so its distinct shingle set
    is BROADCAST — the corpus shingles are generated map-side
    (explode over a JVM transform, no Python) and stream through a
    BroadcastHashJoin; only matching rows reach the single hash-agg
    shuffle on doc_id.  The corpus is never shuffled un-matched, and
    nothing is O(n²).  If a benchmark ever outgrows the broadcast
    limit, drop the F.broadcast hint and let AQE pick the join."""
    doc_sh = shingles(docs, n=n)
    bench_sh = shingles(
        benchmark.select(F.col("bench_id").alias("doc_id"), "text"), n=n
    ).select(F.col("doc_id").alias("bench_id"), "shingle")
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_hits"),
            F.min("bench_id").alias("first_bench_id"),
        )
    )


def incremental_dedup(new_docs: DataFrame, seen: DataFrame) -> DataFrame:
    """Production-shaped dedup of an INCOMING batch against an
    already-ingested corpus: a new document survives iff its content
    digest is (a) absent from the seen corpus and (b) the minimum
    doc_id among the batch's copies of that digest.
    Output: (doc_id, digest) — the rows to append.

    Scale shape: the seen side is reduced to DISTINCT digests before
    the anti-join (one hash-agg; at 10^12 docs the digest dictionary
    is the dedupable entity count, not the row count), the anti-join
    shuffles on digest only (no text ever moves), and the
    within-batch winner is one min-agg over the batch.  This is the
    batch twin of streaming/pipeline.stream_dedup_documents."""
    # coalesce: a NULL text must still dedup (md5(NULL) is NULL, and
    # null keys silently pass an anti-join while poisoning a SQL
    # NOT IN — the one place the two engines' null semantics diverge)
    new_d = new_docs.select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit("")))
        .alias("digest"))
    seen_d = seen.select(
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("digest")
    ).distinct()
    fresh = new_d.join(seen_d, "digest", "left_anti")
    return (
        fresh.groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "digest")
    )


def near_dedup_clusters(docs: DataFrame, threshold: float = 0.2,
                        max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """End-to-end near-duplicate clustering — the step a training-data
    pipeline actually runs: MinHash+LSH verified pairs -> connected
    components -> one canonical representative per cluster.

    Returns (doc_id, cluster_id, n_docs, keep) for every document
    that belongs to a near-dup cluster (singletons are absent — the
    corpus minus the ``keep = 0`` rows is the deduplicated corpus).
    ``cluster_id`` is the numeric MIN doc_id of the component, and
    ``keep`` marks that representative.

    Scale shape: the pair graph is tiny relative to the corpus (only
    verified near-dup pairs), so the CC step (ops/cc.py two-level:
    parallel per-partition forest contraction, driver union-find under
    threshold, large/small-star above it) never touches corpus-sized
    data; the relabel to numeric-min + cluster sizes is one window
    over component keys — cluster-member rows only."""
    from pyspark.sql import Window

    from octofludb_spark.ops.cc import connected_components

    pairs = minhash_lsh_pairs(docs, threshold, max_df=max_df)
    edges = pairs.select(F.col("doc_x").cast("string").alias("src"),
                         F.col("doc_y").cast("string").alias("dst"))
    comp = connected_components(edges)
    members = comp.select(F.col("node").cast("long").alias("doc_id"),
                          "component")
    # component labels are string-min (CC is type-agnostic); relabel
    # to the NUMERIC min doc_id so '10' vs '9' ordering never leaks
    w = Window.partitionBy("component")
    return (
        members
        .withColumn("cluster_id", F.min("doc_id").over(w))
        .withColumn("n_docs", F.count("*").over(w).cast("long"))
        .select(
            "doc_id", "cluster_id", "n_docs",
            (F.col("doc_id") == F.col("cluster_id"))
            .cast("long").alias("keep"),
        )
    )


def dedup_survivors(docs: DataFrame, threshold: float = 0.2,
                    max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """The full dedup decision for every document — the composition a
    pipeline actually ships: (doc_id, status) with status one of
    'exact_dup' (lost the digest min-doc_id race), 'near_dup' (lost
    its LSH/CC cluster), or 'kept'.

    Layering matters: the near-dup layer runs only on exact
    survivors, so a thousand byte-identical copies cost one digest
    group, never a thousand-member LSH cluster.  Each layer keeps its
    scale shape (digest hash-agg; pair-graph CC far smaller than the
    corpus); the final attribution is two anti-joins on doc_id."""
    d = docs.select("doc_id",
                    F.md5(F.coalesce(F.col("text"), F.lit("")))
                    .alias("digest"))
    canon = d.groupBy("digest").agg(F.min("doc_id").alias("cd"))
    exact_drop = (
        d.join(canon, "digest")
        .where(F.col("doc_id") != F.col("cd"))
        .select("doc_id")
    )
    survivors = docs.join(exact_drop, "doc_id", "left_anti")
    clusters = near_dedup_clusters(survivors, threshold, max_df=max_df)
    near_drop = clusters.where(F.col("keep") == 0).select("doc_id")
    dropped = (
        exact_drop.select("doc_id", F.lit("exact_dup").alias("status"))
        .unionByName(
            near_drop.select("doc_id", F.lit("near_dup").alias("status")))
    )
    kept = (
        docs.select("doc_id")
        .join(dropped.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.lit("kept").alias("status"))
    )
    return dropped.unionByName(kept)


def duplicate_spans(docs: DataFrame, k: int = 8) -> DataFrame:
    """Exact duplicate-substring spans (the suffix-array dedup of
    "Deduplicating Training Data Makes Language Models Better",
    re-expressed relationally): maximal token runs of length >= k
    whose every k-gram also appears elsewhere in the corpus —
    (doc_id, span_start, span_end, n_tokens) with token positions
    0-based inclusive.

    Plan (2 shuffles, no suffix array):
      1. map-side: every token position emits its k-gram fingerprint
         (md5 of the space-joined window — a JVM transform over the
         word array, no Python);
      2. one fingerprint hash-agg marks k-grams with corpus count > 1
         (map-side partial combine absorbs the duplicates);
      3. a semi-join keeps only duplicated positions — each position
         row survives AT MOST once, so a stop-phrase k-gram shared by
         a million docs costs linear work, never a pair blowup;
      4. per-doc gaps-and-islands (one window over doc_id) merges
         adjacent duplicated positions into maximal spans.
    """
    from pyspark.sql import Window

    from octofludb_spark.ops.lineage import spread_input

    words = spread_input(docs).select("doc_id", F.split("text", " ").alias("w"))
    idx = F.when(
        F.size("w") >= k, F.sequence(F.lit(0), F.size("w") - k)
    ).otherwise(F.array().cast("array<int>"))
    grams = words.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.md5(F.concat_ws(
                    " ", F.slice("w", i + 1, k))),
            )
        ).alias("pos", "fp"),
    )
    # The k-gram map stage runs once per branch (the count branch
    # prunes to text-only, so its subplan can never ReuseExchange
    # with the join branch); that is the deliberate trade — AQE
    # broadcasts the aggregated dup-fp set, the corpus-sized gram
    # stream is never shuffled or persisted, and both branches
    # pipeline map-side.  An explicit pre-shuffle was measured SLOWER
    # (it defeats the broadcast semi-join's zero-exchange left side).
    dup_fps = (
        grams.groupBy("fp").agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .select("fp")
    )
    dup_pos = grams.join(dup_fps, "fp", "left_semi")
    w_lag = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        dup_pos.withColumn("_prev", F.lag("pos").over(w_lag))
        .withColumn(
            "_new", (F.col("_prev").isNull()
                     | (F.col("pos") > F.col("_prev") + 1)).cast("int"))
        .withColumn("_isl", F.sum("_new").over(
            w_lag.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)))
    )
    return (
        islands.groupBy("doc_id", "_isl")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + k - 1).alias("span_end"))
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1).cast("long")
            .alias("n_tokens"),
        )
    )


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """Paragraph-level exact deduplication (the RefinedWeb /
    MassiveWeb boilerplate-removal step, public): every
    newline-separated paragraph that occurs anywhere else in the
    corpus survives ONLY at its first occurrence — ordered by
    (doc_id, position) — so repeated cookie banners / nav footers
    vanish from every document but the first.  Output
    (doc_id, n_paras, n_kept, clean_text) with surviving paragraphs
    re-joined in original order.

    Scale shape: posexplode -> one shuffle keyed on the paragraph
    digest (the global first-occurrence race is a row_number window
    per digest — group sizes are the duplication factor, bounded in
    practice; a pathological mega-hot paragraph would AQE-split), one
    shuffle back on doc_id to reassemble.  Digests, not paragraph
    text, ride through the first shuffle."""
    from pyspark.sql import Window

    paras = docs.select(
        "doc_id",
        F.posexplode(F.split(F.coalesce("text", F.lit("")), "\n"))
        .alias("pos", "para"),
    ).withColumn("digest", F.md5("para"))
    w = Window.partitionBy("digest").orderBy("doc_id", "pos")
    kept = paras.withColumn("rn", F.row_number().over(w))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_paras"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("rn") == 1,
                               F.struct("pos", "para")))),
                    lambda s: s["para"]),
                "\n").alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (partitioned Bloom, deterministic hashes)
# ---------------------------------------------------------------------------

BLOOM_BITS_PER_SLICE = 1 << 20  # 16^5 positions per hash slice
BLOOM_K = 3  # hash functions (= slices of the md5 hex digest)


def _bloom_positions(sh: DataFrame, k: int = BLOOM_K) -> DataFrame:
    """Explode each (doc_id, shingle) row into its ``k`` Bloom
    positions (i, pos): position ``i`` is hex digits [5i, 5i+5) of
    md5(shingle) read as an integer — a 20-bit value, so the slice's
    bit-array size is fixed at 2^20 and every engine (Spark `conv`,
    DuckDB nibble arithmetic) computes the identical position."""
    md = F.md5(F.col("shingle"))
    slots = F.array(*[
        F.struct(
            F.lit(i).alias("i"),
            F.conv(F.substring(md, 1 + 5 * i, 5), 16, 10)
            .cast("long").alias("pos"),
        )
        for i in range(k)
    ])
    return (
        sh.select("doc_id", "shingle", F.explode(slots).alias("s"))
        .select("doc_id", "shingle", F.col("s.i").alias("i"),
                F.col("s.pos").alias("pos"))
    )


def bloom_decontaminate(docs: DataFrame, benchmark: DataFrame,
                        n: int = 3, k: int = BLOOM_K) -> DataFrame:
    """Benchmark decontamination through a PARTITIONED BLOOM FILTER
    (one 2^20-bit slice per hash function; Kirsch-Mitzenmatcher-style
    positions derived from disjoint md5 hex slices): a corpus shingle
    is flagged iff ALL ``k`` of its positions were set by some
    benchmark shingle.  Returns (doc_id, n_bloom_hits) for documents
    with at least one flagged shingle — a deterministic SUPERSET of
    the exact contaminated set (Bloom false positives are part of the
    semantics and identical on every engine, so the result is still
    exactly reproducible and hash-oracle-able).

    Scale shape vs contaminated_docs (the exact-join variant): the
    filter the executors consult is k*2^20 BITS regardless of
    benchmark size — here materialized as the distinct (i, pos) set
    (<= 3*2^20 rows ~ a few MB) and BROADCAST, the relational twin of
    shipping the bit array itself.  The corpus side stays map-side
    (shingle -> k positions via one md5) and only position-matching
    rows reach the two hash-aggs; with an actual bitset the probe
    would be a map-side filter with NO join at all — the DF-of-set-
    positions form is chosen because it keeps the whole plan
    Catalyst-visible and engine-checkable.  False-positive rate at
    benchmark cardinality B: (1 - exp(-B/2^20))^k — ~1e-8 at B=10^4,
    so a 10^9-doc corpus sees ~0 spurious doc flags until the
    benchmark outgrows the slice, at which point BLOOM_BITS_PER_SLICE
    scales by taking more hex digits."""
    doc_pos = _bloom_positions(shingles(docs, n=n), k)
    bench_pos = (
        _bloom_positions(
            shingles(benchmark.select(F.col("bench_id").alias("doc_id"),
                                      "text"), n=n), k)
        .select("i", "pos").distinct()
    )
    hits = (
        doc_pos.join(F.broadcast(bench_pos), ["i", "pos"])
        .groupBy("doc_id", "shingle")
        .agg(F.count("*").alias("n_set"))
        .where(F.col("n_set") == k)
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_bloom_hits"))
    )


def soft_dedup_weights(docs: DataFrame, threshold: float = 0.2,
                       max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """Soft deduplication (SoftDeDup / inverse-multiplicity
    reweighting): instead of DROPPING near-duplicates, every document
    keeps a training weight 1/k where k is the size of its near-dup
    cluster — the curation strategy that preserves rare-but-repeated
    content while removing the gradient bias of duplicated text.

    Output: (doc_id, cluster_id, n_dups, weight) for EVERY document —
    singletons get cluster_id = doc_id, n_dups = 1, weight = 1.0;
    cluster members share the numeric-min representative id and
    weight = round(1/k, 6).

    Scale shape: near_dedup_clusters' pair-graph CC touches only
    verified near-dup pairs (far smaller than the corpus); attaching
    the weights back is ONE left join where the cluster side is
    near-dup-sized — broadcastable in practice, AQE picks the build
    side.  The corpus is never shuffled on anything but doc_id."""
    clusters = near_dedup_clusters(docs, threshold, max_df=max_df)
    return (
        docs.select("doc_id")
        .join(clusters.select("doc_id", "cluster_id", "n_docs"),
              "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").cast("long")
            .alias("cluster_id"),
            F.coalesce("n_docs", F.lit(1)).cast("long").alias("n_dups"),
            F.round(F.lit(1.0) / F.coalesce("n_docs", F.lit(1)), 6)
            .alias("weight"),
        )
    )
