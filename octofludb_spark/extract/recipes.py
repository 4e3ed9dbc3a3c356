"""Ingestion recipes: one function per source shape, mirroring the
reference's recipes (reference: octofludb/recipes.py — cited per
function).  ``RECIPES`` maps a source lang to its recipe.

Every recipe takes ``items``, a list of ``(src, content)`` pairs, and
returns one (s, p, o, dt, src) pandas DataFrame: each triple carries
the ``src`` of the document it came from.  Documents of one shape are
concatenated so every recognizer / emission op runs on thousands of
cells instead of a handful — inside one mapInPandas Arrow batch the
pandas call count is O(columns x recognizers), not O(documents x
columns x recognizers).

Batching never changes the triples (tests/test_batched_parity.py):
column-level type inference stays per document (goodness is a
per-document mean over the concatenated column, infer.infer_column),
relate/emission is row-local, and the has_segment table context
depends only on the column-type signature, so same-signature documents
share one emission.  ``file_triples`` runs one document.
"""

from __future__ import annotations

import base64
import json
import re
from typing import Optional

import numpy as np
import pandas as pd

from octofludb_spark.extract.emit import (
    P_FILE,
    P_NAME,
    P_TAG,
    P_TIME,
    TripleSink,
    emit_into,
    emit_table,
)
from octofludb_spark.extract.genbank import _ScalarSink, record_triples
from octofludb_spark.extract.infer import (
    infer_column,
    live_cells,
    type_headless_table,
    type_ragged,
    type_table,
    typed,
    typed_column,
)
from octofludb_spark.extract.parse import (parse_fasta, parse_idlist,
                                           parse_tsv, split_readlines)
from octofludb_spark.extract.xls import excel_columns
from octofludb_spark.functions import recognizers as R
from octofludb_spark.functions.uri import (
    DT_DOUBLE,
    DT_INT,
    DT_PLAIN,
    DT_URI,
    NT,
    make_tag_uri,
    make_uri_series,
)


def _empty() -> pd.DataFrame:
    return TripleSink().frame(with_src=True)


def _concat(frames: list[pd.DataFrame]) -> pd.DataFrame:
    return pd.concat(frames, ignore_index=True) if frames else _empty()


def _emit(cols, src: np.ndarray, levels=None, taguri=None) -> pd.DataFrame:
    """emit_table with per-row source attribution."""
    sink = TripleSink(src=src)
    emit_into(sink, cols, levels=levels, taguri=taguri)
    return sink.frame(with_src=True)


def tag_node_triples(tag: Optional[str], filename: Optional[str],
                     run_ts: Optional[str]) -> pd.DataFrame:
    """addTag (classes.py:104-123): tag node name/time/file triples.
    The reference stamps wall-clock; we take an injected run_ts for
    deterministic output."""
    rows = []
    if tag:
        taguri = make_tag_uri(tag)
        rows.append((taguri, P_NAME, tag, DT_PLAIN))
        if run_ts:
            rows.append((taguri, P_TIME, run_ts, "xsd:dateTime"))
        if filename:
            rows.append((taguri, P_FILE, filename, DT_PLAIN))
    return pd.DataFrame(rows, columns=["s", "p", "o", "dt"])


# --------------------------------------------------------------------------
# inferred-column tables (fasta / tsv)
# --------------------------------------------------------------------------

def _tabular_triples(tables: list[tuple[int, dict[str, list]]],
                     headless: bool, classifiers=None, na_str=(),
                     levels=None, taguri=None) -> pd.DataFrame:
    """tabularTyping (classes.py:192-226) + emission for documents
    sharing one column key (header tuple, or arity for headless):
    tables = [(src, {column: cells}), ...]."""
    names = list(tables[0][1])
    n_rows = [len(data[names[0]]) for _, data in tables]
    doc = np.repeat(np.arange(len(tables)), n_rows)
    src = np.repeat(np.asarray([s for s, _ in tables], dtype=np.int64),
                    n_rows)
    if not len(doc):
        return _empty()
    per_col = []
    for name in names:
        live = live_cells((v for _, data in tables for v in data[name]),
                          na_str)
        per_col.append((name, live,
                        *infer_column(live, doc, len(tables), classifiers)))
    # documents with the same column-recognizer signature share one
    # emission
    sigs: dict[tuple, tuple[list, list[int]]] = {}
    for d in range(len(tables)):
        recogs = [chosen[d] or R.UNKNOWN for _, _, chosen, _ in per_col]
        sigs.setdefault(tuple(r.name for r in recogs), (recogs, []))[1] \
            .append(d)
    frames = []
    for recogs, docs in sigs.values():
        rows = np.isin(doc, docs)
        cols = [typed_column(recog, live, None if headless else name,
                             results, rows)
                for recog, (name, live, _, results) in zip(recogs, per_col)]
        frames.append(_emit(cols, src[rows], levels=levels, taguri=taguri))
    return _concat(frames)


def fasta_triples(items, levels=None, na_str=(), taguri=None,
                  classifiers=None) -> pd.DataFrame:
    """prep fasta (ui.py:883-929 via classes.Ragged): equal-arity
    documents are grouped by arity and column-typed per document; a
    ragged document is typed cell by cell (infer.type_ragged)."""
    by_arity: dict[int, list[tuple[int, dict]]] = {}
    frames = []
    for src, content in items:
        rows = parse_fasta(content)
        arities = {len(r) for r in rows}
        if len(arities) == 1:
            k = arities.pop()
            by_arity.setdefault(k, []).append(
                (src, {str(i): [r[i] for r in rows] for i in range(k)}))
        elif rows:
            for cols, _ in type_ragged(rows, classifiers=classifiers,
                                       na_str=na_str):
                frames.append(_emit(
                    cols, np.full(len(cols[0].dirty), src, dtype=np.int64),
                    levels=levels, taguri=taguri))
    for tables in by_arity.values():
        frames.append(_tabular_triples(tables, True, classifiers, na_str,
                                       levels, taguri))
    return _concat(frames)


def table_triples(items, levels=None, na_str=(), taguri=None,
                  classifiers=None) -> pd.DataFrame:
    """prep table (classes.Table): headered TSVs, grouped by header."""
    by_header: dict[tuple, list[tuple[int, dict]]] = {}
    for src, content in items:
        data = parse_tsv(content)
        by_header.setdefault(tuple(data), []).append((src, data))
    return _concat([_tabular_triples(tables, False, classifiers, na_str,
                                     levels, taguri)
                    for tables in by_header.values()])


# --------------------------------------------------------------------------
# fixed-column line recipes (blast / ivr / ird)
# --------------------------------------------------------------------------

def _line_columns(items, width: int, exact: bool = False):
    """Tab-split, readlines-style lines of every document (the
    terminator stays on the last field, parse.split_readlines), cut to
    ``width`` fields; lines with fewer fields (with ``exact``, any
    other count) are skipped.  -> (columns, src per row)."""
    rows, src = [], []
    for fi, content in items:
        for ln in split_readlines(content):
            r = ln.split("\t")
            if ln.strip() and (len(r) == width if exact else len(r) >= width):
                rows.append(r[:width])
                src.append(fi)
    return list(zip(*rows)), np.asarray(src, dtype=np.int64)


_BLAST_FIELDS = [
    ("pident", float, DT_DOUBLE), ("length", int, DT_INT),
    ("mismatch", int, DT_INT), ("gapopen", int, DT_INT),
    ("qstart", int, DT_INT), ("qend", int, DT_INT),
    ("sstart", int, DT_INT), ("send", int, DT_INT),
    ("evalue", float, DT_DOUBLE), ("bitscore", float, DT_DOUBLE),
]


def blast_triples(items, taguri=None) -> pd.DataFrame:
    """mk_blast (recipes.py:21-71): 12-field outfmt-6 rows; hit node
    keyed blast/{qseqid}-{sseqid}-{bitscore}."""
    cols, src = _line_columns(items, 12, exact=True)
    if not len(src):
        return _empty()
    qseqid = pd.Series(cols[0], dtype=object)
    sseqid = pd.Series(cols[1], dtype=object)
    bit_raw = pd.Series(cols[11], dtype=object).str.strip()
    huid = make_uri_series("blast/" + qseqid + "-" + sseqid + "-" + bit_raw)
    sink = TripleSink(src=src)
    sink.add(huid, NT + "qseqid", make_uri_series(qseqid), DT_URI)
    sink.add(huid, NT + "sseqid", make_uri_series(sseqid), DT_URI)
    for i, (name, cast, dt) in enumerate(_BLAST_FIELDS, start=2):
        vals = pd.Series([str(cast(v.strip())) for v in cols[i]],
                         dtype=object)
        sink.add(huid, NT + name, vals, dt)
    if taguri:
        sink.add(huid, P_TAG, taguri, DT_URI)
    return sink.frame(with_src=True)


_IVR_STRAIN_PAT = re.compile(r"[ABCD]/[^()\[\]]+")


def ivr_triples(items, taguri=None) -> pd.DataFrame:
    """mk_influenza_na (recipes.py:74-110): fixed 11-column IVR layout;
    strain extracted by regex from column 7."""
    cols, src = _line_columns(items, 11)
    if not len(src):
        return _empty()

    def strain_of(x):
        m = _IVR_STRAIN_PAT.search(x)
        return m.group(0) if m else None

    table = [
        typed(R.GENBANK, cols[0]),
        typed(R.UNKNOWN, [x.lower() for x in cols[1]], field="host"),
        typed(R.SEGMENT_NUMBER, cols[2]),
        typed(R.SUBTYPE, cols[3]),
        typed(R.COUNTRY, cols[4]),
        typed(R.DATE, cols[5]),
        typed(R.INTEGER, [x.lower() for x in cols[6]], field="length"),
        typed(R.STRAIN, [strain_of(x) for x in cols[7]]),
        typed(R.UNKNOWN, [x.strip() for x in cols[10]], field="genome_status"),
    ]
    return _emit(table, src, taguri=taguri)


def ird_triples(items, taguri=None) -> pd.DataFrame:
    """mk_ird (recipes.py:113-151): 15-column IRD layout, NA='-N/A-'.
    The last field of a newline-terminated line keeps its terminator,
    which the strain grammar rejects — reference-observable on
    12-field lines."""
    na = ("-N/A-",)
    cols, src = _line_columns(items, 12)
    if not len(src):
        return _empty()
    table = [
        typed(R.SEGMENT_NUMBER, cols[0], na_str=na),
        typed(R.GENBANK, cols[2], field="genbank_id", na_str=na),
        typed(R.INTEGER, cols[4], field="length", na_str=na),
        typed(R.SUBTYPE, cols[5], na_str=na),
        typed(R.DATE, cols[6], na_str=na),
        typed(R.UNKNOWN, [x.replace("IRD:", "").lower() for x in cols[7]],
              field="host", na_str=na),
        typed(R.COUNTRY, cols[8]),
        typed(R.UNKNOWN, cols[10], field="flu_season", na_str=na),
        typed(R.STRAIN, cols[11], field="strain_name", na_str=na),
    ]
    return _emit(table, src, taguri=taguri)


# --------------------------------------------------------------------------
# GISAID metadata sheets (TSV text or binary Excel)
# --------------------------------------------------------------------------

_GIS_SEGMENTS = ("PB2", "PB1", "PA", "HA", "NP", "NA", "MP", "NS")
_EPI_SUFFIX = re.compile(r" *\|.*")
_GIS_STRAIN_PAREN = re.compile(r"^\([ABCD]/[^/()\[\]]+/.+\)")
_GIS_STRAIN_PLAIN = re.compile(r"^[ABCD]/[^/()\[\]]+/.+")


def _gis_strain_clean(name: str) -> Optional[str]:
    """p_strain.parse (non-strict prefix) + clean_strain
    (domain_identifier.py:9-22), as used by mk_gis (recipes.py:166)."""
    m = _GIS_STRAIN_PAREN.match(name) or _GIS_STRAIN_PLAIN.match(name)
    if not m:
        return None
    x = m.group(0).strip().replace(" ", "_")
    x = re.sub(r"^\((.*)\)$", r"\1", x)
    x = re.sub(r"_*\(.*\)_*$", "", x)
    x = re.sub(r"_*\[.*\]_*$", "", x)
    return x


def gisaid_rows(d: dict):
    """Yield one exploded record dict per row x segment x (epi, gbk)
    pair (mk_gis loop, reference recipes.py:161-221).  Zip
    truncation of unequal epi/genbank lists is faithful; the
    reference's inner try only skips a Segment_Id cell with no .split
    (None / missing) — an EMPTY string is processed ([''], so a bare
    INSDC genbank id still anchors the segment)."""
    n = len(d["Isolate_Id"])

    def cell(key, i):
        return d[key][i] if key in d else None

    for i in range(n):
        name = d["Isolate_Name"][i] or ""
        strain_clean = _gis_strain_clean(name)
        if strain_clean is None:
            continue  # reference skips the row on strain-parse failure
        try:
            country = (cell("Location", i) or "").split(" / ")[1]
        except IndexError:
            country = None
        lineage = cell("Lineage", i)
        base = {
            "isolate": d["Isolate_Id"][i],
            "strain": strain_clean,
            "full_strain": name if name != "" else None,
            "subtype": cell("Subtype", i),
            "lineage": lineage if lineage else None,
            "host": cell("Host", i),
            "country": country,
            "cdate": cell("Collection_Date", i),
            "sdate": cell("Submission_Date", i),
        }
        for seg in _GIS_SEGMENTS:
            seg_cell = cell(f"{seg} Segment_Id", i)
            if seg_cell is None:
                continue
            epi_ids = [_EPI_SUFFIX.sub("", x) for x in seg_cell.split(",")]
            gbk_cell = cell(f"{seg} INSDC_Upload", i)
            gbk_ids = gbk_cell.split(",") if gbk_cell is not None else [None]
            for epi_id, gbk_id in zip(epi_ids, gbk_ids):
                yield {**base, "epi": epi_id, "gbk": gbk_id,
                       "segment": seg}


# (recognizer, exploded key, field) per emitted column
GIS_COLSPEC = [
    (R.ISOLATE, "isolate", None),
    (R.EPI_SEQID, "epi", None),
    (R.GENBANK, "gbk", None),
    (R.UNKNOWN, "strain", "strain_name"),
    (R.UNKNOWN, "full_strain", "gisaid_strain_name"),
    (R.SEGMENT_NAME, "segment", None),
    (R.SUBTYPE, "subtype", "gisaid_subtype"),
    (R.STRING, "lineage", "lineage"),
    (R.HOST, "host", "host"),
    (R.COUNTRY, "country", None),
    (R.DATE, "cdate", "collection_date"),
    (R.DATE, "sdate", "submission_date"),
]


def gisaid_column_triples(tables, taguri=None) -> pd.DataFrame:
    """mk_gis (recipes.py:154-234) over header-keyed column dicts,
    tables = [(src, {header: cells}), ...] (see gisaid_rows)."""
    recs, src = [], []
    for fi, d in tables:
        if "Isolate_Id" in d:
            for rec in gisaid_rows(d):
                recs.append(rec)
                src.append(fi)
    if not recs:
        return _empty()
    cols = [typed(recog, [r[k] for r in recs], field=f)
            for recog, k, f in GIS_COLSPEC]
    return _emit(cols, np.asarray(src, dtype=np.int64), taguri=taguri)


def gisaid_triples(items, taguri=None) -> pd.DataFrame:
    """GISAID metadata as TSV text."""
    return gisaid_column_triples(
        [(src, parse_tsv(content)) for src, content in items], taguri)


def gisaid_excel_triples(items, taguri=None) -> pd.DataFrame:
    """GISAID metadata as a binary Excel sheet (.xls OLE2/BIFF8 or
    .xlsx), the reference's native input (`prep gis gisaid.xls`,
    classes.py:258-268), carried in the string-typed corpus as base64;
    extract/xls.py reads it without xlrd/openpyxl."""
    return gisaid_column_triples(
        [(src, excel_columns(base64.b64decode(content)))
         for src, content in items], taguri)


# --------------------------------------------------------------------------
# GenBank records
# --------------------------------------------------------------------------

def genbank_triples(items, taguri=None) -> pd.DataFrame:
    """lang='genbank': JSON-lines of Entrez-shaped record dicts
    (extract/genbank.py).  Record traversal is per record (nested
    dicts); the frame and its dedup are built once — deduping on
    (s, p, o, dt, src) is a per-document dedup because src separates
    documents.  The reference's genbank path is untagged
    (prep_update_gb, ui.py:745-766), so taguri is ignored."""
    del taguri
    rows: list[tuple] = []
    for src, content in items:
        sink = _ScalarSink()
        for line in content.splitlines():
            line = line.strip()
            if not line:
                continue
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(rec, dict):  # a malformed line must not kill the task
                record_triples(rec, sink)
        rows.extend((*t, src) for t in sink.rows)
    if not rows:
        return _empty()
    return pd.DataFrame(rows, columns=["s", "p", "o", "dt", "src"]) \
        .astype({"src": np.int64}).drop_duplicates(ignore_index=True)


# --------------------------------------------------------------------------
# one-implementation recipes: id lists and the irregular shapes run per
# document behind _per_document
# --------------------------------------------------------------------------

def idlist_triples(content: str, taguri: Optional[str]) -> pd.DataFrame:
    """prep tag (ui.py:600-619): (make_uri(id), f:tag, taguri)."""
    ids = parse_idlist(content) if taguri else []
    sink = TripleSink()
    if ids:
        sink.add(make_uri_series(pd.Series(ids, dtype=object)), P_TAG,
                 taguri, DT_URI)
    return sink.frame()


def irregular_fasta_triples(content: str, levels=None, na_str=(),
                            taguri=None) -> pd.DataFrame:
    """prep unpublished (IrregularFasta, recipes.py:522-545): the
    first header field is FORCED to be a strain id (f:strain_id); the
    remaining fields type normally; every sequence node is tagged
    tag:unpublished."""
    rows = parse_fasta(content)
    rows = [r for r in rows if len(r) >= 2]
    if not rows:
        return TripleSink().frame()
    strain_col = typed(R.IRREGULAR_STRAIN, [r[0] for r in rows])
    rest = [r[1:] for r in rows]
    arities = {len(r) for r in rest}
    dfs = []
    if len(arities) == 1:
        cols = type_headless_table(rest, na_str=na_str) + [strain_col]
        dfs.append(emit_table(cols, levels=levels, taguri=taguri))
        seq_cols = [c for c in cols if c.group == "sequence"]
    else:
        # ragged remainder: per-signature groups, strain column sliced
        seq_cols = []
        for cols, ris in type_ragged(rest, na_str=na_str):
            sub_strain = typed(R.IRREGULAR_STRAIN,
                               [rows[i][0] for i in ris])
            group_cols = cols + [sub_strain]
            dfs.append(emit_table(group_cols, levels=levels, taguri=taguri))
            seq_cols.extend(c for c in group_cols if c.group == "sequence")
    # tag all sequence nodes as unpublished (recipes.py:535-543)
    unpub = make_tag_uri("unpublished")
    sink = TripleSink()
    for c in seq_cols:
        sink.add(c.uri(), P_TAG, unpub, DT_URI, c.clean.notna())
    dfs.append(sink.frame())
    return pd.concat(dfs, ignore_index=True).drop_duplicates(ignore_index=True)


def irregular_segment_table_triples(content: str, levels=None, na_str=(),
                                    taguri=None) -> pd.DataFrame:
    """prep table --segment-key (IrregularSegmentTable,
    recipes.py:559-573): the FIRST column is forced to be a segment
    identifier (typename None — it gets sameAs links and attributes
    but asserts no predicate of its own)."""
    data = parse_tsv(content)
    names = list(data.keys())
    seg_col = typed(R.IRREGULAR_SEGMENT, data[names[0]])
    rest = {k: data[k] for k in names[1:]}
    cols = type_table(rest, na_str=na_str) + [seg_col]
    return emit_table(cols, levels=levels, taguri=taguri)


def _per_document(fn):
    def run(items, taguri=None) -> pd.DataFrame:
        return _concat([fn(content, taguri=taguri).assign(src=np.int64(src))
                        for src, content in items])
    return run


RECIPES = {
    "fasta": fasta_triples,
    "tsv": table_triples,
    "gisaid": gisaid_triples,
    "gisaid_xls": gisaid_excel_triples,
    "ivr": ivr_triples,
    "ird": ird_triples,
    "blast": blast_triples,
    "genbank": genbank_triples,
    "ids": _per_document(idlist_triples),
    "unpublished": _per_document(irregular_fasta_triples),
    "segtable": _per_document(irregular_segment_table_triples),
}


def file_triples(lang: str, content: str, taguri=None,
                 **opts) -> pd.DataFrame:
    """One document through its recipe -> (s, p, o, dt).  ``opts``
    are the recipe's keyword options (fasta/tsv: levels, na_str,
    classifiers)."""
    return RECIPES[lang]([(0, content)], taguri=taguri, **opts) \
        .drop(columns="src")
