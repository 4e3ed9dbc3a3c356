"""Entity-consistent, seeded source-record generator for the benchmark.

Produces the engine's physical input, the source table
``(repo, path, commit, lang, content, content_sha256)``, in all seven
ingestion shapes (FASTA, octoFLU TSV, GISAID sheet, id list, BLAST
outfmt-6, IVR table, GenBank JSON lines), as a pandas frame that setup
writes to parquet.  The program only ever sees that parquet file.

Why not ``octofludb_spark.sources.synth``: it draws every EPI and
GenBank id independently from one 20k pool, so a GISAID row links two
unrelated segments with owl:sameAs and the sameAs graph percolates into
one giant component.  Measured on the synth corpus: 7,427 aliases in
one component at 6k docs; 33,704 of 34,797 aliased nodes at 12k docs;
39,481 of 39,492 at 24k docs.  Real GISAID exports pair each segment's
EPI id with exactly one INSDC accession, so components stay at 2-3
nodes and ``ops.cc`` / ``ops.canonicalize`` do proportionate work.

Here every id is a pure function of an *isolate* number ``k``: its
strain name, A0 barcode, subtype and collection date, and for each of
its eight segments one ``EPI`` id and one ``MN`` GenBank accession.
Documents mention isolates; the only sameAs edges are the per-segment
(EPI, GenBank) pairs, so a component never spans two isolates.

Declared parameters (``Corpus``): the isolate range a document draws
from, an optional second range plus the share of mentions drawn from
it (``overlap`` with an existing store), and the format mix.  The same
``seed`` and parameters give byte-identical output.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

COLUMNS = ["repo", "path", "commit", "lang", "content", "content_sha256"]
FORMATS = ("fasta", "tsv", "gisaid", "ids", "blast", "ivr", "genbank")
EXT = {"fasta": "fna", "tsv": "tsv", "gisaid": "gis", "ids": "txt",
       "blast": "blast", "ivr": "ivr", "genbank": "gbjson"}
EVEN_MIX = {f: 1.0 for f in FORMATS}

HOSTS = ["swine", "Swine"]
STATES = ["Iowa", "Texas", "Minnesota", "North Carolina", "Ohio",
          "Nebraska", "Illinois", "Indiana", "Kansas", "Oklahoma"]
COUNTRIES = ["USA", "Canada", "Brazil"]
SUBTYPES = ["H1N1", "H3N2", "H1N2"]
SEGMENTS = ["PB2", "PB1", "PA", "HA", "NP", "NA", "MP", "NS"]
H_CLADES = ["alpha", "beta", "gamma", "delta1", "delta2", "pandemic",
            "Cluster_IV", "Cluster_IVA", "2010.1", "2010.2"]
N_CLADES = ["Classical", "1998A", "2002A", "TX98"]
GL_CLADES = ["1A.1.1", "1A.3.3.2", "1B.2.1", "3.1990.4.1", "Other-Avian",
             "Other-Human-1990"]
INTERNAL_CLADES = ["pdm", "TRIG", "LAIV"]
BASES = np.array(list("ATGC"))
MAX_ISOLATES = 100_000  # keeps every id inside its recognizer's width
_GOLDEN = (5 ** 0.5 - 1) / 2


# ---- isolate k -> its ids and attributes (pure functions) -----------------

def barcode(k: int) -> str:
    return f"A0{1000000 + k:07d}"


def strain(k: int) -> str:
    return (f"A/{HOSTS[k % 2]}/{STATES[k % len(STATES)]}/{barcode(k)}"
            f"/{2009 + k % 13}")


def subtype(k: int) -> str:
    return SUBTYPES[k % len(SUBTYPES)]


def collection_date(k: int) -> str:
    return f"{2009 + k % 13}-{1 + k % 12:02d}-{1 + k % 28:02d}"


def epi_id(k: int, seg: int) -> str:
    return f"EPI{300000 + 8 * k + seg}"


def genbank_id(k: int, seg: int) -> str:
    return f"MN{100000 + 8 * k + seg}"


def segment_label(k: int, seg: int) -> str:
    """octoFLU segment_subtype column: HA/NA carry the isolate's
    subtype, internal genes their gene name."""
    name = SEGMENTS[seg]
    if name == "HA":
        return subtype(k)[:2]
    if name == "NA":
        return subtype(k)[2:]
    return {"MP": "M"}.get(name, name)


def clade(k: int, seg: int) -> str:
    name = SEGMENTS[seg]
    if name == "HA":
        return H_CLADES[k % len(H_CLADES)]
    if name == "NA":
        return N_CLADES[k % len(N_CLADES)]
    return INTERNAL_CLADES[(k + seg) % len(INTERNAL_CLADES)]


# ---- corpus -----------------------------------------------------------------

@dataclass(frozen=True)
class Corpus:
    """One stream of documents.

    ``isolates`` is the half-open isolate range new mentions draw from;
    with ``reuse`` set, each mention instead draws from ``reuse`` with
    probability ``overlap`` (entities already in a store).  ``mix``
    weights the seven formats."""

    seed: int
    stream: str
    isolates: tuple[int, int]
    reuse: tuple[int, int] | None = None
    overlap: float = 0.0
    mix: dict = field(default_factory=lambda: dict(EVEN_MIX))

    def __post_init__(self):
        lo, hi = self.isolates
        if not 0 <= lo < hi <= MAX_ISOLATES:
            raise ValueError(f"isolate range {self.isolates} outside "
                             f"[0, {MAX_ISOLATES})")
        if not 0.0 <= self.overlap <= 1.0:
            raise ValueError("overlap is a share in [0, 1]")
        if set(self.mix) - set(FORMATS) or sum(self.mix.values()) <= 0:
            raise ValueError(f"mix keys must be among {FORMATS}")


def _stream_key(stream: str) -> int:
    return int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4],
                          "little")


class _Doc:
    """Draw state for one document."""

    def __init__(self, corpus: Corpus, index: int):
        self.c = corpus
        self.r = np.random.default_rng(
            [corpus.seed, _stream_key(corpus.stream), index])

    def isolate(self) -> int:
        c = self.c
        lo, hi = c.isolates
        if c.reuse is not None and self.r.random() < c.overlap:
            lo, hi = c.reuse
        return int(self.r.integers(lo, hi))

    def seq(self, k: int, seg: int) -> str:
        # one sequence per segment, whichever document mentions it
        r = np.random.default_rng([self.c.seed, 7, k, seg])
        return "".join(BASES[r.integers(0, 4, int(r.integers(60, 180)))])

    def n(self, lo: int, hi: int) -> int:
        return int(self.r.integers(lo, hi))


def _fasta(d: _Doc) -> str:
    out = []
    for _ in range(d.n(3, 10)):
        k = d.isolate()
        seq = d.seq(k, 3)
        out.append(f">{strain(k)}|{subtype(k)}|{collection_date(k)}")
        out += [seq[i:i + 60] for i in range(0, len(seq), 60)]
    return "\n".join(out)


def _tsv(d: _Doc) -> str:
    rows = ["seqid\tsegment_subtype\tclade\tgl_clade"]
    for _ in range(d.n(4, 13)):
        k, seg = d.isolate(), d.n(0, 8)
        rows.append(f"{genbank_id(k, seg)}\t{segment_label(k, seg)}\t"
                    f"{clade(k, seg)}\t{GL_CLADES[k % len(GL_CLADES)]}")
    return "\n".join(rows)


def _gisaid(d: _Doc) -> str:
    head = ["Isolate_Id", "Isolate_Name", "Host", "Subtype", "Lineage",
            "Location", "Collection_Date", "Submission_Date"]
    for seg in SEGMENTS:
        head += [f"{seg} Segment_Id", f"{seg} INSDC_Upload"]
    rows = ["\t".join(head)]
    for _ in range(d.n(2, 6)):
        k = d.isolate()
        cells = [f"EPI_ISL_{500000 + k}", strain(k), HOSTS[k % 2],
                 subtype(k), "swl" if k % 2 else "",
                 f"North America / {COUNTRIES[k % 3]} / somewhere",
                 collection_date(k), collection_date(k)]
        for seg in range(len(SEGMENTS)):
            # a segment either has both ids or neither: the pair is the
            # one sameAs edge the sheet contributes for that segment
            if (k + seg) % 5 == 0:
                cells += ["", ""]
            else:
                cells += [f"{epi_id(k, seg)} | x", genbank_id(k, seg)]
        rows.append("\t".join(cells))
    return "\n".join(rows)


def _ids(d: _Doc) -> str:
    ids = []
    for _ in range(d.n(5, 25)):
        k, kind = d.isolate(), d.n(0, 4)
        ids.append([genbank_id(k, d.n(0, 8)), epi_id(k, d.n(0, 8)),
                    barcode(k), strain(k)][kind])
    return "\n".join(ids)


def _blast(d: _Doc) -> str:
    rows = []
    for _ in range(d.n(4, 14)):
        a, b = d.isolate(), d.isolate()
        seg = d.n(0, 8)
        r = d.r
        rows.append("\t".join([
            genbank_id(a, seg), genbank_id(b, seg),
            f"{50 + 50 * r.random():.2f}", str(d.n(100, 2000)),
            str(d.n(0, 50)), str(d.n(0, 10)), str(d.n(1, 100)),
            str(d.n(100, 2000)), str(d.n(1, 100)), str(d.n(100, 2000)),
            f"{r.random():.3g}", f"{100 * r.random():.1f}",
        ]))
    return "\n".join(rows)


def _ivr(d: _Doc) -> str:
    rows = []
    for _ in range(d.n(4, 12)):
        k, seg = d.isolate(), d.n(0, 8)
        rows.append("\t".join([
            genbank_id(k, seg), HOSTS[k % 2], str(seg + 1), subtype(k),
            COUNTRIES[k % 3], collection_date(k), str(800 + 190 * seg),
            f"Influenza A virus ({strain(k)}({subtype(k)}))", "-", "-",
            "complete",
        ]))
    return "\n".join(rows)


def _genbank(d: _Doc) -> str:
    lines = []
    for _ in range(d.n(2, 6)):
        k, seg = d.isolate(), d.n(0, 8)
        acc = genbank_id(k, seg)
        quals = [("strain", strain(k)), ("host", "Sus scrofa"),
                 ("country", f"USA: {STATES[k % len(STATES)]}"),
                 ("collection_date", collection_date(k)),
                 ("serotype", subtype(k))]
        lines.append(json.dumps({
            "GBSeq_primary-accession": acc,
            "GBSeq_locus": acc,
            "GBSeq_organism": "Influenza A virus",
            "GBSeq_length": str(800 + 190 * seg),
            "GBSeq_update-date": f"{1 + k % 28:02d}-JUN-{2015 + k % 7}",
            "GBSeq_definition": f"Influenza A virus ({strain(k)}) segment",
            "GBSeq_sequence": d.seq(k, seg).lower(),
            "GBSeq_feature-table": [
                {"GBFeature_key": "source",
                 "GBFeature_location": "1..2280",
                 "GBFeature_quals": [
                     {"GBQualifier_name": n, "GBQualifier_value": v}
                     for n, v in quals]},
                {"GBFeature_key": "CDS",
                 "GBFeature_quals": [{"GBQualifier_name": "gene",
                                      "GBQualifier_value": SEGMENTS[seg]}]},
            ],
        }))
    return "\n".join(lines)


_MAKERS = {"fasta": _fasta, "tsv": _tsv, "gisaid": _gisaid, "ids": _ids,
           "blast": _blast, "ivr": _ivr, "genbank": _genbank}


def generate(corpus: Corpus, start: int, count: int) -> pd.DataFrame:
    """Documents ``start .. start+count-1`` of ``corpus``; each is a pure
    function of (seed, stream, index), so any slice is reproducible."""
    langs = [f for f in FORMATS if corpus.mix.get(f, 0) > 0]
    cum = np.cumsum([corpus.mix[f] for f in langs], dtype=float)
    cum /= cum[-1]
    rows = []
    for i in range(start, start + count):
        d = _Doc(corpus, i)
        # low-discrepancy format sequence: every run of consecutive
        # documents holds the declared mix almost exactly, so the input
        # size does not swing with the seed
        u = (i * _GOLDEN + 0.5) % 1.0
        lang = langs[min(int(np.searchsorted(cum, u, side="right")),
                         len(langs) - 1)]
        content = _MAKERS[lang](d)
        rows.append((
            f"flu-crew/{corpus.stream}",
            f"data/{corpus.stream}/doc{i:06d}.{EXT[lang]}",
            hashlib.sha1(f"{corpus.stream}-{i}".encode()).hexdigest(),
            lang,
            content,
            hashlib.sha256(content.encode()).hexdigest(),
        ))
    return pd.DataFrame(rows, columns=COLUMNS)
