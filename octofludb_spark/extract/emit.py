"""Triple emission: the reference's Phrase/relate semantics
(reference: octofludb/classes.py:368-399 Phrase.connect and the
relate/add_triples/object_of methods in classifier_flucrew.py), but
table-at-a-time: one typed table (a parsed file, or a group of
same-signature rows) in, a flat (s, p, o, dtype) pandas DataFrame out.

Everything is column-vectorized; the pair loop is over COLUMNS
(a handful per file), never over rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Optional

import numpy as np
import pandas as pd

from octofludb_spark.functions.recognizers import (
    K_DNA,
    K_PRO,
    K_SEGMENT,
    K_SEGMENT_ATTR,
    K_STRAIN,
    K_STRAIN_ATTR,
    Recog,
    SEGMENT,
    STRAIN_FIELDS,
)
from octofludb_spark.functions.uri import (
    DT_PLAIN,
    DT_URI,
    NCOUNTRY,
    NUSA,
    NT,
    OWL_SAMEAS,
    chksum_series,
    make_property,
    make_uri_series,
)

P_HAS_SEGMENT = NT + "has_segment"
P_HAS_FEATURE = NT + "has_feature"
P_TAG = NT + "tag"
P_NAME = NT + "name"
P_TIME = NT + "time"
P_FILE = NT + "file"
P_CHKSUM = NT + "chksum"
P_DNASEQ = NT + "dnaseq"
P_PROSEQ = NT + "proseq"
P_STATE = NT + "state"
P_BARCODE = NT + "barcode"
P_STRAIN_NAME = NT + "strain_name"
P_SEGMENT_NUMBER = NT + "segment_number"
P_SEGMENT_NAME = NT + "segment_name"

_BARCODE_PAT = r"A0\d{7}|\d+TOSU\d+"  # classifier_flucrew.py:61


@dataclass
class TypedColumn:
    """One typed column of a parsed file (= one Token class applied to
    every cell of the column)."""

    recog: Recog
    dirty: pd.Series                 # original text (None for NA cells)
    clean: pd.Series                 # munged value; None = no match
    field: Optional[str] = None      # column-name override
    dtype: Optional[pd.Series] = None  # literal dtype per cell (dates &c)
    _uri: Optional[pd.Series] = dc_field(default=None, repr=False)
    _truthy: Optional[pd.Series] = dc_field(default=None, repr=False)

    @property
    def typename(self) -> str:
        return self.recog.name

    @property
    def group(self) -> Optional[str]:
        return self.recog.group

    def choose_field(self) -> str:
        return self.field if self.field else self.recog.name

    @property
    def truthy(self) -> pd.Series:
        """match is non-None and non-empty (token.py:102-103)."""
        if self._truthy is None:
            self._truthy = self.clean.notna() & (
                self.dirty.astype("object").fillna("") != ""
            )
        return self._truthy

    def uri(self) -> pd.Series:
        """Entity IRI per cell (strain/segment: make_uri(clean);
        sequence: make_uri(md5(clean)))."""
        if self._uri is None:
            if self.recog.kind in (K_DNA, K_PRO):
                self._uri = make_uri_series(chksum_series(self.clean))
            else:
                self._uri = make_uri_series(self.clean)
        return self._uri


class TripleSink:
    """Accumulates triple blocks as numpy object arrays (positional
    alignment, no pandas frame per block); finalizes to one DataFrame.

    With ``src`` (an int array aligned to the table's rows), every
    emitted triple carries the source-file index of the row it came
    from — per-row lineage for the recipes (extract/recipes.py)."""

    def __init__(self, src: Optional[np.ndarray] = None) -> None:
        self._blocks: list[tuple] = []
        self._src = src

    def add(self, s, p, o, dt=DT_PLAIN, mask=None, src_rows=None) -> None:
        """All Series arguments are aligned POSITIONALLY (they come from
        the same table); indices are discarded to dodge duplicate-label
        alignment traps."""
        n = 1
        for v in (s, p, o, dt):
            if isinstance(v, pd.Series):
                n = len(v)
                break

        def col(v):
            if isinstance(v, pd.Series):
                return v.to_numpy(dtype=object, copy=False)
            return np.full(n, v, dtype=object)

        sa, pa, oa, da = col(s), col(p), col(o), col(dt)
        if mask is not None:
            m = mask.to_numpy(dtype=bool) if isinstance(mask, pd.Series) \
                else np.asarray(mask, dtype=bool)
        else:
            m = np.ones(n, dtype=bool)
        # safeAdd semantics (util.py:116-123): only fully non-null triples
        m = m & pd.notna(sa) & pd.notna(pa) & pd.notna(oa)
        if not m.any():
            return
        da = da.copy()
        da[pd.isna(da)] = DT_PLAIN
        if src_rows is not None:
            sr = np.asarray(src_rows, dtype=np.int64)
        elif self._src is not None and n == len(self._src):
            sr = self._src
        else:
            sr = np.full(n, -1, dtype=np.int64)
        self._blocks.append((sa[m], pa[m], oa[m], da[m], sr[m]))

    def frame(self, with_src: bool = False) -> pd.DataFrame:
        if not self._blocks:
            cols = {"s": pd.Series(dtype=object), "p": pd.Series(dtype=object),
                    "o": pd.Series(dtype=object), "dt": pd.Series(dtype=object)}
            if with_src:
                cols["src"] = pd.Series(dtype="int64")
            return pd.DataFrame(cols)
        out = pd.DataFrame(
            {
                "s": np.concatenate([b[0] for b in self._blocks]),
                "p": np.concatenate([b[1] for b in self._blocks]),
                "o": np.concatenate([b[2] for b in self._blocks]),
                "dt": np.concatenate([b[3] for b in self._blocks]),
            }
        )
        if with_src:
            out["src"] = np.concatenate([b[4] for b in self._blocks])
        return out.drop_duplicates(ignore_index=True)


def _object_of(sink: TripleSink, col: TypedColumn, uri: pd.Series, mask) -> None:
    """token.object_of(uri) (token.py:67-74 + per-class overrides)."""
    kind = col.recog.object_kind
    if kind == "state":
        # StateUSA.object_of: fixed P.state, usa:XX uri object
        # (classifier_flucrew.py:137-144)
        m = mask & col.truthy
        sink.add(uri, P_STATE, (NUSA + col.clean.astype("object").fillna("")).where(col.clean.notna()), DT_URI, m)
        return
    if kind in ("country", "country_code"):
        # Country/CountryOrState.object_of: object is a country IRI
        # (classifier_flucrew.py:80-91, 114-123)
        m = mask & col.clean.notna()
        sink.add(
            uri,
            make_property(col.choose_field()),
            (NCOUNTRY + col.clean.astype("object").fillna("")).where(col.clean.notna()),
            DT_URI,
            m,
        )
        return
    if kind == "segment_number":
        # SegmentNumber.object_of emits number + name
        # (classifier_flucrew.py:410-415)
        m = mask & col.truthy & col.clean.notna()
        sink.add(uri, P_SEGMENT_NUMBER, col.clean, DT_PLAIN, m)
        seg_names = col.clean.where(col.clean.notna(), "1").astype(str).map(
            lambda n: SEGMENT[int(n) - 1] if n.isdigit() and 1 <= int(n) <= 8 else None
        )
        sink.add(uri, P_SEGMENT_NAME, seg_names, DT_PLAIN, m)
        return
    if kind == "string_dirty":
        # String literal of the ORIGINAL text (token.py:155-165)
        if col.choose_field() is None:
            return  # as_predicate None -> no triple (token.py:57-62)
        m = mask & col.truthy
        sink.add(uri, make_property(col.choose_field()), col.dirty, DT_PLAIN, m)
        return
    if col.recog.kind == K_DNA:
        # Dnaseq.object_of: chksum + dnaseq (classifier_flucrew.py:451-456)
        m = mask & col.truthy
        sink.add(uri, P_CHKSUM, chksum_series(col.clean), DT_PLAIN, m)
        sink.add(uri, P_DNASEQ, col.clean, DT_PLAIN, m)
        return
    # default Token.object_of: literal of clean, typed when the
    # recognizer carries a dtype column (dates, int/double/bool)
    if col.choose_field() is None:
        return  # as_predicate None -> no triple (token.py:57-62)
    m = mask & col.truthy & col.clean.notna()
    dt = col.dtype if col.dtype is not None else DT_PLAIN
    sink.add(uri, make_property(col.choose_field()), col.clean, dt, m)


def _table_has(cols: list[TypedColumn], *, dnaseq_counts: bool) -> bool:
    """StrainToken._has_segment (classifier_flucrew.py:191-195) /
    SequenceToken._has_segment (:427-431): token CLASS presence, not
    per-cell match."""
    for c in cols:
        if c.group == "segment":
            return True
        if dnaseq_counts and c.typename == "dnaseq":
            return True
    return False


def emit_table(
    cols: list[TypedColumn],
    levels: Optional[set[str]] = None,
    taguri: Optional[str] = None,
) -> pd.DataFrame:
    """Phrase.connect over every row of a typed table
    (classes.py:373-396), vectorized by column pair."""
    sink = TripleSink()
    emit_into(sink, cols, levels=levels, taguri=taguri)
    return sink.frame()


def emit_into(
    sink: TripleSink,
    cols: list[TypedColumn],
    levels: Optional[set[str]] = None,
    taguri: Optional[str] = None,
) -> None:
    has_seg_or_dna = _table_has(cols, dnaseq_counts=True)
    has_seg = _table_has(cols, dnaseq_counts=False)
    use_segment = has_seg_or_dna and (levels is None or "segment" in levels)

    for col in cols:
        alive = col.clean.notna()  # connect's `token.clean is None: continue`
        relate_allowed = levels is None or (col.group is not None and col.group in levels)
        kind = col.recog.kind

        if relate_allowed:
            if kind == K_STRAIN:
                _relate_strain(sink, col, cols, alive, use_segment)
            elif kind == K_SEGMENT:
                _relate_segment(sink, col, cols, alive)
            elif kind == K_STRAIN_ATTR:
                _relate_strain_attr(sink, col, cols, alive)
            elif kind == K_SEGMENT_ATTR:
                _relate_segment_attr(sink, col, cols, alive)
            elif kind == K_DNA:
                _relate_dnaseq(sink, col, cols, alive, has_seg)
            elif kind == K_PRO:
                _relate_proseq(sink, col, cols, alive, has_seg)
            # plain tokens: Token.relate is empty (token.py:91-97)

        _add_triples(sink, col, alive)

        if taguri is not None and col.group is not None:
            sink.add(col.uri(), P_TAG, taguri, DT_URI, alive)


def _relate_strain(sink, col, cols, alive, use_segment):
    """StrainToken.relate (classifier_flucrew.py:197-218)."""
    valid = alive & col.truthy
    uri = col.uri()
    # the typename self-assertion triple (skipped for None typenames,
    # classifier_flucrew.py:207-208)
    if col.typename is not None:
        sink.add(uri, make_property(col.typename), col.clean, DT_PLAIN, valid)
    for other in cols:
        if other is col:
            continue  # other.clean == self.clean for the same column
        ok = valid & other.truthy & other.clean.notna() & (
            other.clean != col.clean
        )
        if other.group == "segment":
            sink.add(uri, P_HAS_SEGMENT, other.uri(), DT_URI, ok)
        elif other.choose_field() in STRAIN_FIELDS:
            _object_of(sink, other, uri, ok)
        elif not use_segment:
            _object_of(sink, other, uri, ok)


def _relate_segment(sink, col, cols, alive):
    """SegmentToken.relate (classifier_flucrew.py:327-348)."""
    valid = alive & col.truthy
    uri = col.uri()
    for other in cols:
        ok = valid & other.clean.notna()
        if other.group == "segment" and other.typename != col.typename:
            sink.add(uri, OWL_SAMEAS, other.uri(), DT_URI, ok & other.truthy)
        elif other.choose_field() not in STRAIN_FIELDS \
                and other.typename is not None:
            _object_of(sink, other, uri, ok)


def _relate_strain_attr(sink, col, cols, alive):
    """StrainAttribute.relate (classifier_flucrew.py:272-281)."""
    for other in cols:
        if other.group == "strain" and other.typename != col.typename:
            ok = alive & other.clean.notna()
            _object_of(sink, col, other.uri(), ok)


def _relate_segment_attr(sink, col, cols, alive):
    """SegmentAttribute.relate (classifier_flucrew.py:384-393)."""
    for other in cols:
        if other.group == "segment":
            ok = alive & other.clean.notna()
            _object_of(sink, col, other.uri(), ok)


def _relate_dnaseq(sink, col, cols, alive, has_seg):
    """Dnaseq.relate (classifier_flucrew.py:458-474)."""
    uri = col.uri()
    for other in cols:
        ok = alive & other.clean.notna()
        if other.group == "strain":
            sink.add(other.uri(), P_HAS_SEGMENT, uri, DT_URI, ok)
        elif not has_seg and other.typename not in STRAIN_FIELDS:
            # NOTE: reference tests TYPENAME here, not choose_field
            _object_of(sink, other, uri, ok)


def _relate_proseq(sink, col, cols, alive, has_seg):
    """Proseq.relate (classifier_flucrew.py:481-499)."""
    uri = col.uri()
    sink.add(uri, P_PROSEQ, col.clean, DT_PLAIN, alive)
    for other in cols:
        ok = alive & other.clean.notna()
        if other.group == "segment":
            sink.add(other.uri(), P_HAS_FEATURE, uri, DT_URI, ok)
        elif other.group == "strain":
            continue  # reference warns, emits nothing
        elif other.choose_field() not in STRAIN_FIELDS and not has_seg:
            _object_of(sink, other, uri, ok)


def _add_triples(sink, col, alive):
    """token.add_triples (Barcode/Genbank/EpiSeqid/Strain overrides)."""
    name = col.typename
    nonempty = alive & (col.clean.astype("object").fillna("") != "")
    if name == "barcode":
        sink.add(col.uri(), P_BARCODE, col.clean, DT_PLAIN, nonempty)
    elif name == "genbank_id":
        sink.add(col.uri(), NT + "genbank_id", col.clean, DT_PLAIN, nonempty)
    elif name == "epi_id":
        sink.add(col.uri(), NT + "epi_id", col.clean, DT_PLAIN, nonempty)
    elif name == "strain_name" and col.recog.kind == K_STRAIN:
        _strain_add_triples(sink, col, nonempty)


def _strain_add_triples(sink, col, mask):
    """Strain.add_triples (classifier_flucrew.py:250-267): strain_name
    literal + embedded-barcode and embedded-state extraction from the
    '/'-separated strain-name elements."""
    uri = col.uri()
    sink.add(uri, P_STRAIN_NAME, col.clean, DT_PLAIN, mask)
    keep = (mask & col.clean.notna()).to_numpy(dtype=bool)
    if not keep.any():
        return
    sub = col.clean.reset_index(drop=True)[keep]
    uri_np = uri.to_numpy(dtype=object)[keep]
    src_np = sink._src[keep] if sink._src is not None else None
    parts = sub.astype(str).str.split("/")
    exploded = parts.explode()
    # positional map back to the owning row's uri / src
    owner_pos = exploded.index.to_numpy()
    pos_of = {idx: i for i, idx in enumerate(sub.index)}
    owner = np.array([pos_of[i] for i in owner_pos], dtype=np.int64)
    uris = uri_np[owner]
    srcs = src_np[owner] if src_np is not None else None
    vals = exploded.reset_index(drop=True)
    is_barcode = vals.str.fullmatch(_BARCODE_PAT).to_numpy(dtype=bool)
    if is_barcode.any():
        sink.add(
            pd.Series(uris[is_barcode], dtype=object),
            P_BARCODE,
            vals[is_barcode].reset_index(drop=True),
            DT_PLAIN,
            src_rows=srcs[is_barcode] if srcs is not None else None,
        )
    if (~is_barcode).any():
        from octofludb_spark.functions.geography import state_to_code_series

        rest = vals[~is_barcode].reset_index(drop=True)
        codes = state_to_code_series(rest)
        has_state = codes.notna().to_numpy(dtype=bool)
        if has_state.any():
            sink.add(
                pd.Series(uris[~is_barcode][has_state], dtype=object),
                P_STATE,
                (NUSA + codes[has_state].astype(str)).reset_index(drop=True),
                DT_URI,
                src_rows=srcs[~is_barcode][has_state] if srcs is not None else None,
            )
