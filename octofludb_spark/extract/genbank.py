"""GenBank record ingestion (reference: octofludb/genbank.py:37-187
make_gb_meta_triples).

The reference pulls these records from Entrez at runtime; in this
engine the same record dictionaries arrive as JSON-lines content in
the source table (lang='genbank') — the network fetch is replaced by
rows, the triple semantics are identical:

  * ~14 metadata projections onto the accession node,
  * sequence content (dnaseq + md5 chksum),
  * per-feature sub-nodes from the deterministic uid generator
    (accession_feat_<i>, nomenclature.py:53-56),
  * qualifier routing (translation -> proseq, gene -> parsed
    segment_name on the RECORD, everything else onto the feature
    with date-inference),
  * strain linking (has_segment, host cleaning, typed date, country
    URI with unrecognized-country fallback, US state + A0 barcode
    extraction from strain-name fields).
"""

from __future__ import annotations

import re

from octofludb_spark.functions import dates as D
from octofludb_spark.functions.geography import _country_code, _state_code, _tables
from octofludb_spark.functions.uri import (
    DT_DATE,
    DT_GYEAR,
    DT_GYEARMONTH,
    DT_INT,
    DT_PLAIN,
    DT_URI,
    NCOUNTRY,
    NI,
    NUSA,
    chksum,
    make_property,
    make_uri,
)

NT = "https://flu-crew.org/term/"

# maybe_add projections (genbank.py:77-91); P.gb_* -> nt term names
_META_FIELDS = [
    ("GBSeq_locus", "locus", None),
    ("GBSeq_length", "length", "int"),
    ("GBSeq_strandedness", "strandedness", None),
    ("GBSeq_moltype", "moltype", None),
    ("GBSeq_topology", "topology", None),
    ("GBSeq_division", "division", None),
    ("GBSeq_update-date", "update_date", "date"),
    ("GBSeq_create-date", "create_date", "date"),
    ("GBSeq_definition", "definition", None),
    # the reference looks up 'GBSeq_primary_accession' (underscore),
    # which Entrez never emits ('GBSeq_primary-accession') — the
    # projection is faithfully dead (genbank.py:87)
    ("GBSeq_primary_accession", "primary_accession", None),
    ("GBSeq_accession-version", "accession_version", None),
    ("GBSeq_source", "source", None),
    ("GBSeq_organism", "organism", None),
    ("GBSeq_taxonomy", "taxonomy", None),
]

_SEGMENT_MAP = {
    "PB2": "PB2", "PB1": "PB1", "PA": "PA", "NP": "NP",
    "NS": "NS", "NS1": "NS", "M": "M", "MP": "M", "M1": "M",
    "HA": "HA", "NA": "NA",
}
_STRAIN_PAREN = re.compile(r"^\([ABCD]/[^/()\[\]]+/.+\)")
_STRAIN_PLAIN = re.compile(r"^[ABCD]/[^/()\[\]]+/.+")
_A0 = re.compile(r"A0\d{7}")

# p_date alternatives for make_literal's infer (nomenclature.py:111-119
# uses p_date.parse — PREFIX match): utc, polite, ymd, mdy, dMy
_P_DATE_PREFIX = [
    re.compile("^(?:" + rx + ")", re.IGNORECASE)
    for name, rx in D._ALTERNATIVES
    if name in ("utc", "polite", "ymd", "mdy", "dMy")
]


def _parse_strain_prefix(val: str):
    m = _STRAIN_PAREN.match(val) or _STRAIN_PLAIN.match(val)
    if not m:
        return None
    x = m.group(0).strip().replace(" ", "_")
    x = re.sub(r"^\((.*)\)$", r"\1", x)
    x = re.sub(r"_*\(.*\)_*$", "", x)
    x = re.sub(r"_*\[.*\]_*$", "", x)
    return x


def _typed_date(val: str):
    """make_date: full p_any_date parse -> (lexical, dtype) or None."""
    parts = D._parse_one(str(val))
    if parts == (None, None, None) or parts[0] is None:
        return None
    y, m, d = parts
    if d is not None:
        return f"{y}-{m}-{d}", DT_DATE
    if m is not None:
        return f"{y}-{m}", DT_GYEARMONTH
    return y, DT_GYEAR


def _infer_literal(val: str):
    """make_literal(x, infer=True): date PREFIX parse via p_date, else
    plain string (nomenclature.py:111-119)."""
    for rx in _P_DATE_PREFIX:
        m = rx.match(val)
        if m:
            gd = m.groupdict()
            y = gd.get("y")
            mo = gd.get("m")
            d = gd.get("d")
            if y is None:
                continue
            y = D._expand_year(y)
            mo = D._MONTH_MAP.get(mo.lower(), mo.zfill(2)) if mo else None
            d = d.zfill(2) if d else None
            lex = "-".join(v for v in (y, mo, d) if v)
            return lex, DT_DATE
    return val, DT_PLAIN


def _clean_host(x: str) -> str:
    """clean_host (domain_animal.py:5-17)."""
    x = re.sub(r";.*", "", x.strip().lower())
    for marker, out in (("scrofa", "swine"), ("pig", "swine"),
                        ("porcine", "swine"), ("boar", "swine"),
                        ("sapiens", "human")):
        if marker in x:
            return out
    return x


def record_triples(rec: dict, sink, only_influenza_a: bool = True):
    """One GenBank record dict -> triples into the sink.  Returns an
    error string ('' = clean), mirroring make_gb_meta_triples."""
    accession = rec.get("GBSeq_primary-accession")
    if accession is None:
        return "Unknown\tNo primary accession"
    accession = str(accession)
    if only_influenza_a:
        org = rec.get("GBSeq_organism")
        if org is None:
            return f"{accession}\tNo organsim specified"
        if not re.match("Influenza [ABCD] virus", org):
            return f"{accession}\tNot influenza"

    gid = make_uri(accession)
    sink.add(gid, NT + "genbank_id", accession)
    for key, term, kind in _META_FIELDS:
        val = rec.get(key)
        if val is None:
            continue
        if kind == "int":
            # a malformed numeric field must not kill the task (the
            # reference's rdflib Literal never raises either); skip it
            try:
                sink.add(gid, NT + term, str(int(val)), DT_INT)
            except (TypeError, ValueError):
                continue
        elif kind == "date":
            td = _typed_date(val)
            if td:
                sink.add(gid, NT + term, td[0], td[1])
        else:
            sink.add(gid, NT + term, str(val))

    if "GBSeq_sequence" in rec and rec["GBSeq_sequence"] is not None:
        seq = str(rec["GBSeq_sequence"]).upper()
        sink.add(gid, NT + "dnaseq", seq)
        sink.add(gid, NT + "chksum", chksum(seq))

    strain = host = country = None
    date_lit = None
    error = ""

    for i, feat in enumerate(rec.get("GBSeq_feature-table", []) or []):
        # uidgen(base=accession + "_feat_") — case preserved, no quoting
        fid = NI + f"{accession}_feat_{i}"
        sink.add(gid, NT + "has_feature", fid, DT_URI)
        fkey = feat.get("GBFeature_key")
        if fkey is not None:
            sink.add(fid, NT + "name", str(fkey))
        loc = feat.get("GBFeature_location")
        if loc is not None:
            sink.add(fid, NT + "location", str(loc))
        for qual in feat.get("GBFeature_quals", []) or []:
            if "GBQualifier_name" not in qual or "GBQualifier_value" not in qual:
                continue
            key = qual["GBQualifier_name"]
            val = qual["GBQualifier_value"]
            if key == "translation":
                sink.add(fid, NT + "proseq", val)
                sink.add(fid, NT + "chksum", chksum(val))
            elif key == "strain":
                s = _parse_strain_prefix(val)
                if s is None:
                    error = f"{val}\tBad strain name"
                    strain = val
                else:
                    strain = s
            elif key == "collection_date":
                date_lit = _typed_date(val)
            elif key == "host":
                host = val
            elif key == "country":
                country = re.sub(r":.*", "", val)
            elif key == "gene":
                seg = _SEGMENT_MAP.get(val)
                if seg is not None:
                    sink.add(gid, NT + "segment_name", seg)
                lex, dt = _infer_literal(val)
                sink.add(fid, make_property(key), lex, dt)
            else:
                lex, dt = _infer_literal(val)
                sink.add(fid, make_property(key), lex, dt)

    if strain:
        sid = make_uri(strain)
        sink.add(sid, NT + "has_segment", gid, DT_URI)
        sink.add(sid, NT + "strain_name", strain)
        t = _tables()
        if host:
            sink.add(sid, NT + "host", _clean_host(host))
        if date_lit:
            sink.add(sid, NT + "date", date_lit[0], date_lit[1])
        if country:
            code = _country_code(country, t)
            curi = (NCOUNTRY + code) if code else make_uri(country, NCOUNTRY)
            sink.add(sid, NT + "country", curi, DT_URI)
            if code is None:
                sink.add(curi, NT + "name", country)
            if code == "USA":
                for field in strain.split("/")[1:]:
                    sc = _state_code(field, t)
                    if sc:
                        sink.add(sid, NT + "state", NUSA + sc, DT_URI)
                    if _A0.fullmatch(field):
                        sink.add(sid, NT + "barcode", field)
    else:
        error = f"{rec.get('GBSeq_locus')}\tNo strain name"
    return error


class _ScalarSink:
    """Row-at-a-time triple sink (GenBank records are deeply nested
    JSON; the per-record loop is the unit of work)."""

    def __init__(self):
        self.rows: list[tuple] = []

    def add(self, s, p, o, dt=DT_PLAIN):
        if s is not None and p is not None and o is not None:
            self.rows.append((s, p, o, dt))
