"""External-service integrations, dark-executable in the sandbox.

Two reference capabilities depend on things this container doesn't
have — the NCBI Entrez network API (reference entrez.py) and the
octoFLU classifier binary (reference script.py:175-280).  The logic
around them (window traversal, anti-diff, batching, retries, chunking,
output parsing) is real, distributed, and fully tested with injected
fakes; only the IO edge (`requests.get` / `./octoFLU.sh`) is dark.

Spark mapping (SURVEY.md §2 S5/S11):
  * Entrez search is coordinator-side (one tiny HTTP call per month
    window, exactly like the reference's driver loop).
  * The accession ANTI-DIFF (new = remote − store) is a distributed
    left_anti join against the store's accession relation.
  * The heavy efetch is mapInPandas over accession batches: the
    reference's batch_size=1000 / 10-attempt retry loop
    (entrez.py:126-143) becomes per-batch retries INSIDE the task,
    with Spark task re-execution as the outer safety net.
  * octoFLU chunking (<=5000 seqs per run, script.py:236) becomes one
    runner invocation per partition batch; on a cluster every executor
    runs its own octoFLU checkout.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
from typing import Callable, Iterator, Optional, Sequence

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# S5 — Entrez accession discovery + fetch
# --------------------------------------------------------------------------

EUTILS_ESEARCH = "https://eutils.ncbi.nlm.nih.gov/entrez/eutils/esearch.fcgi"
DEFAULT_QUERY = '"Influenza+A+Virus"[Organism]'


def month_windows(now_year: int, now_month: int, min_year: int = 1918,
                  max_year: int = 2099, nmonths: int = 9999) -> list[str]:
    """The reference's backwards traversal (entrez.py:88-122):
    month-by-month from now down to 2000, then year-by-year 1999→1918.
    Returns window strings ('YYYY/MM' or 'YYYY')."""
    out: list[str] = []
    budget = nmonths
    for year in reversed(range(2000, now_year + 1)):
        if year < min_year:
            break
        if year > max_year:
            continue
        for month in reversed(range(1, 13)):
            if budget <= 0:
                break
            if year == now_year and month > now_month:
                continue  # future sequences not yet supported
            out.append(f"{year}/{month}")
            budget -= 1
    for year in reversed(range(1918, 2000)):
        if year < min_year or budget <= 0:
            break
        if year > max_year:
            continue
        out.append(str(year))
    return out


def http_search(mindate: str, maxdate: str, retmax: int = 100000,
                query: str = DEFAULT_QUERY) -> list[str]:
    """Live esearch (entrez.py:35-75 parity: same endpoint, params,
    and truncation warning).  Dark in the sandbox — no network."""
    import logging

    import requests  # import-gated: not exercised offline

    params = {
        "db": "nuccore", "term": query, "retmode": "json",
        "retmax": str(retmax), "datetype": "pdat",
        "mindate": mindate, "maxdate": maxdate, "idtype": "acc",
    }
    result = requests.get(EUTILS_ESEARCH, params=params).json()["esearchresult"]
    if int(result["retmax"]) < int(result["count"]):
        logging.getLogger(__name__).warning(
            "results truncated at %s of %s ids",
            result["retmax"], result["count"])
    return result["idlist"]


def discover_new_accessions(
    spark: SparkSession,
    existing_acc: DataFrame,
    windows: Sequence[str],
    search: Callable[[str, str], list[str]] = http_search,
) -> DataFrame:
    """(window, acc) rows for accessions NOT already in the store.

    Search runs per window on the coordinator (tiny payloads, like the
    reference driver loop); the diff against the store is a
    distributed left_anti join — the store side can be billions of
    rows and never collects."""
    rows = []
    for w in windows:
        for acc in search(w, w):
            rows.append((w, acc))
    if not rows:
        return spark.createDataFrame([], "window string, acc string")
    remote = spark.createDataFrame(rows, "window string, acc string")
    have = existing_acc.select(F.col(existing_acc.columns[0]).alias("acc"))
    return remote.join(have, "acc", "left_anti")


FETCH_BATCH = 1000       # entrez.py:127
FETCH_ATTEMPTS = 10      # entrez.py:132
FETCH_BACKOFF_S = 15.0   # entrez.py:143


def fetch_genbank_triples(
    acc: DataFrame,
    fetch: Callable[[list[str]], list[dict]],
    batch_size: int = FETCH_BATCH,
    attempts: int = FETCH_ATTEMPTS,
    sleep: Callable[[float], None] = None,
) -> DataFrame:
    """Distributed efetch -> GenBank-record triples.

    Accessions are fetched in batches of ``batch_size`` INSIDE each
    partition (mapInPandas); transient fetch errors retry up to
    ``attempts`` times with the reference's 15s backoff
    (entrez.py:132-143) before surfacing to Spark's task retry.
    Each record dict is emitted through the same recipe as the
    genbank lang (RECIPES["genbank"]), so network-fetched and
    file-loaded records produce identical triples."""
    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("p", T.StringType()),
        T.StructField("o", T.StringType()),
        T.StructField("dt", T.StringType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        from octofludb_spark.extract.recipes import file_triples

        for pdf in batches:
            for recs in fetch_batches(list(pdf["acc"]), fetch,
                                      batch_size=batch_size,
                                      attempts=attempts, sleep=sleep):
                content = "\n".join(json.dumps(r) for r in recs)
                out = file_triples("genbank", content)
                if len(out):
                    yield out[["s", "p", "o", "dt"]]

    return acc.mapInPandas(run, schema)


def fetch_batches(
    ids: list[str],
    fetch: Callable[[list[str]], list[dict]],
    batch_size: int = FETCH_BATCH,
    attempts: int = FETCH_ATTEMPTS,
    sleep: Callable[[float], None] = None,
) -> Iterator[list[dict]]:
    """The reference's get_gbs batching/retry core (entrez.py:126-143):
    batches of ``batch_size``, each retried up to ``attempts`` times
    with a 15 s backoff before the error surfaces (on a cluster, to
    Spark's task-retry machinery)."""
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep
    for start in range(0, len(ids), batch_size):
        chunk = ids[start:start + batch_size]
        for attempt in range(attempts):
            try:
                yield fetch(chunk)
                break
            except Exception:
                if attempt == attempts - 1:
                    raise
                do_sleep(FETCH_BACKOFF_S)


# --------------------------------------------------------------------------
# S11 — octoFLU wrapper
# --------------------------------------------------------------------------

OCTOFLU_CHUNK = 5000  # script.py:236 — "don't kill our tree builder"


def subprocess_octoflu_runner(workdir: str) -> Callable[[str], str]:
    """Production runner: `./octoFLU.sh <chunk.fa>` inside an octoFLU
    checkout (script.py:248-258), returning the Final_Output table
    text.  Dark in the sandbox — the binary isn't installed.

    octoFLU writes `{chunk}_output/{chunk}_Final_Output.txt` RELATIVE
    to the checkout cwd (script.py:254-257), so the chunk is copied
    into the checkout and addressed by basename — joining workdir with
    an absolute chunk path would silently discard workdir."""
    import shutil

    def run(chunk_path: str) -> str:
        rel = os.path.basename(chunk_path)
        dst = os.path.join(workdir, rel)
        if os.path.abspath(dst) != os.path.abspath(chunk_path):
            shutil.copy(chunk_path, dst)
        subprocess.run(["./octoFLU.sh", rel], check=True, cwd=workdir)
        table = os.path.join(workdir, f"{rel}_output",
                             f"{rel}_Final_Output.txt")
        with open(table) as f:
            return f.read()
    return run


def parse_octoflu_output(text: str) -> pd.DataFrame:
    """Final_Output.txt -> 4 columns (script.py:263-268 keeps
    fields 0:4 of each tab row)."""
    rows = [
        [c.strip() for c in line.split("\t")[0:4]]
        for line in text.splitlines() if line.strip()
    ]
    return pd.DataFrame(
        rows, columns=["seqid", "segment_subtype", "clade", "gl_clade"])


def _fasta_text(pdf: pd.DataFrame) -> str:
    return "\n".join(f">{i}\n{s}" for i, s in zip(pdf["seqid"], pdf["seq"]))


def octoflu_classifier(
    runner: Callable[[str], str],
    chunk_size: int = OCTOFLU_CHUNK,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Adapt an octoFLU runner to the enrich-classifier interface
    (plans/enrich.py enrich_classifications): (seqid, seq) batches in,
    4-column classification table out.  Sequences are chunked at the
    reference's 5000-sequence bound; each chunk is one runner
    invocation on a temp fasta file."""
    def classify(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for start in range(0, len(pdf), chunk_size):
            chunk = pdf.iloc[start:start + chunk_size]
            with tempfile.NamedTemporaryFile(
                    "w", suffix=".fa", delete=False) as fh:
                fh.write(_fasta_text(chunk))
                path = fh.name
            try:
                frames.append(parse_octoflu_output(runner(path)))
            finally:
                os.unlink(path)
        if not frames:
            return pd.DataFrame(
                columns=["seqid", "segment_subtype", "clade", "gl_clade"])
        return pd.concat(frames, ignore_index=True)
    return classify


# --------------------------------------------------------------------------
# S12 — motif finder wrapper (flutile)
# --------------------------------------------------------------------------

# the reference's motif position patterns (ui.py:297-321) — data, not code
H1_MOTIF_PATTERNS = [
    "sa_motif=124,125,155,157,159,160,162,163,164",
    "sb_motif=153,156,189,190,193,195",
    "ca1_motif=166,170,204,237",
    "ca2_motif=137,140,142,221,222",
    "cb_motif=70,71,73,74,75,115",
]
H3_MOTIF_PATTERNS = ["h3_motif=145,155,156,158,159,189"]


def flutile_runner(subtype: str, patterns: Sequence[str]) -> Callable[[str], str]:
    """Production motif runner: flutile.write_bounds over a fasta file
    (reference script.py:280-307 — dna2aa conversion, tabular output).
    Dark in the sandbox — flutile isn't installed."""
    def run(fasta_path: str) -> str:
        import io

        import flutile  # import-gated

        out = io.StringIO()
        flutile.write_bounds(
            tabular=True, motif_strs=list(patterns), keep_signal=False,
            subtype=subtype, fasta_file=fasta_path, conversion="dna2aa",
            outfile=out)
        return out.getvalue()
    return run


def motif_table(seqs: DataFrame, runner: Callable[[str], str]) -> DataFrame:
    """Distributed motif extraction: (seqid, seq) partitions -> temp
    fasta per batch -> one runner invocation -> the runner's tabular
    output parsed back (header row = seqid + motif column names, as
    flutile emits and prep_table expects, ui.py:312/326)."""
    import pyspark.sql.types as T

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            with tempfile.NamedTemporaryFile(
                    "w", suffix=".fna", delete=False) as fh:
                fh.write(_fasta_text(pdf))
                path = fh.name
            try:
                text = runner(path)
            finally:
                os.unlink(path)
            lines = [l for l in text.splitlines() if l.strip()]
            if len(lines) < 2:
                continue
            header = lines[0].split("\t")
            rows = [l.split("\t") for l in lines[1:]]
            yield pd.DataFrame(rows, columns=header)

    # schema is fixed by the FIRST batch's header at plan time: probe
    # the runner's header with an empty fasta is not possible, so the
    # caller's runner must emit a stable header; we derive it from a
    # 1-row driver-side probe
    probe = runner_probe_header(seqs, runner)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in probe])
    return seqs.mapInPandas(run, schema)


def runner_probe_header(seqs: DataFrame, runner: Callable[[str], str]) -> list[str]:
    """One driver-side runner call on a single sequence to learn the
    output header (mapInPandas needs the schema up front)."""
    one = seqs.limit(1).toPandas()
    if not len(one):
        return ["seqid"]
    with tempfile.NamedTemporaryFile("w", suffix=".fna", delete=False) as fh:
        fh.write(_fasta_text(one))
        path = fh.name
    try:
        text = runner(path)
    finally:
        os.unlink(path)
    lines = [l for l in text.splitlines() if l.strip()]
    return lines[0].split("\t") if lines else ["seqid"]


def enrich_motifs(spark: SparkSession, store, runner_factory=flutile_runner,
                  subtypes: Sequence[tuple[str, Sequence[str]]] = (
                      ("H1", tuple(H1_MOTIF_PATTERNS)),
                      ("H3", tuple(H3_MOTIF_PATTERNS)),
                  )) -> int:
    """The reference's upload_motifs round (ui.py:293-328): for each
    HA subtype, pull that subtype's swine HA sequences from the store,
    run the motif finder, re-extract the tabular output as triples
    (prep_table semantics, segment-keyed), and merge idempotently."""
    from octofludb_spark.plans.enrich import df_table_triples
    from octofludb_spark.plans.reports import h_swine_sequences
    from octofludb_spark.plans.views import GraphViews

    total = 0
    for subtype, patterns in subtypes:
        v = GraphViews(store.read(spark, "triples"))
        seqs = h_swine_sequences(v, subtype).withColumnRenamed("gb", "seqid")
        table = motif_table(seqs, runner_factory(subtype, patterns))
        triples = df_table_triples(table, segment_key=True)
        n = triples.persist().count()
        if n:
            store.merge_triples(spark, triples,
                                stage=f"enrich-motifs-{subtype.lower()}")
        triples.unpersist()
        total += n
    return total
