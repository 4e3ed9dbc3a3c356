"""IRI minting, predicates, and checksums.

Reproduces the observable semantics of the reference's nomenclature
layer (reference: octofludb/nomenclature.py:15-33,59-108 and
octofludb/hash.py:7-13) as vectorized pandas operations.  All
functions here operate on ``pd.Series`` (the unit of work inside
mapInPandas batches) or on plain python strings (driver-side
constants); nothing here touches Spark rows one at a time.
"""

from __future__ import annotations

import hashlib
import re
import urllib.parse as _url

import numpy as np
import pandas as pd

# Namespaces (reference: octofludb/nomenclature.py:15-20)
NI = "https://flu-crew.org/id/"
NT = "https://flu-crew.org/term/"
NTAG = "https://flu-crew.org/tag/"
NQUERY = "https://flu-crew.org/query/"
NUSA = "https://flu-crew.org/geo/country/usa/"
NCOUNTRY = "https://flu-crew.org/geo/country/"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
RDFS_SUBPROP = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"

# Literal dtype tags carried in the triple relation's object_dtype column.
DT_PLAIN = ""
DT_URI = "uri"
DT_INT = "xsd:integer"
DT_DOUBLE = "xsd:double"
DT_BOOL = "xsd:boolean"
DT_DATE = "xsd:date"
DT_GYEAR = "xsd:gYear"
DT_GYEARMONTH = "xsd:gYearMonth"

_SPACE_DASH = re.compile(r"[ -]+")
_NEEDS_QUOTE = re.compile(r"[^A-Za-z0-9_.\-~]")


def quote_plus_series(s: pd.Series) -> pd.Series:
    """Vectorized urllib.parse.quote_plus with a fast path for strings
    that need no escaping (the overwhelming majority at scale)."""
    s = s.astype("object")
    mask = s.notna()
    needs = mask & s.fillna("").astype(str).str.contains(_NEEDS_QUOTE, regex=True)
    out = s.copy()
    if needs.any():
        out[needs] = [_url.quote_plus(x) for x in s[needs]]
    return out


def make_uri_series(s: pd.Series, namespace: str = NI) -> pd.Series:
    """Mint entity IRIs (reference: nomenclature.py:59-66): strip,
    collapse ``[ -]+`` to ``_``, lowercase, percent-encode, prefix.

    Dictionary-encoded on repetitive columns: entity names repeat
    heavily (bounded pools of strains/hosts/countries), and every
    strain URI needs percent-escaping (the '/'), so minting once per
    distinct value and gathering back skips most of the quote work."""
    n = len(s)
    if n >= 128:
        codes, uniques = pd.factorize(s, use_na_sentinel=True)
        # nonzero guard: an all-NA column factorizes to empty uniques
        # and the gather would index an empty array
        if 0 < len(uniques) <= 0.5 * n:
            res_u = make_uri_series(pd.Series(uniques, dtype=object),
                                    namespace)
            arr = res_u.to_numpy(dtype=object)[np.where(codes >= 0, codes, 0)]
            return pd.Series(np.where(codes >= 0, arr, None),
                             index=s.index, dtype=object)
    s = s.astype("object")
    mask = s.notna() & (s != "")
    cleaned = (
        s.where(mask)
        .astype(str)
        .str.strip()
        .str.replace(_SPACE_DASH, "_", regex=True)
        .str.lower()
    )
    quoted = quote_plus_series(cleaned.where(mask))
    return (namespace + quoted).where(mask, None)


def make_uri(x: str | None, namespace: str = NI) -> str | None:
    if not x:
        return None
    x = _SPACE_DASH.sub("_", x.strip()).lower()
    return namespace + _url.quote_plus(x)


def make_property(name: str) -> str:
    """Predicate IRI (reference: nomenclature.py:107-108)."""
    return NT + name.lower().replace(" ", "_")


def make_tag_uri(tag: str) -> str:
    """Tag IRI (reference: nomenclature.py:30-33)."""
    t = tag.strip().replace(" ", "_").lower()
    return NTAG + _url.quote_plus(t)


def chksum(x: str) -> str:
    """md5 of the stripped upper-cased text (reference: hash.py:7-13)."""
    return hashlib.md5(str(x).strip().upper().encode("ascii")).hexdigest()


def chksum_series(s: pd.Series) -> pd.Series:
    s = s.astype("object")
    mask = s.notna()
    out = pd.Series(np.full(len(s), None, dtype=object), index=s.index)
    if mask.any():
        out[mask] = [
            hashlib.md5(str(x).strip().upper().encode("ascii")).hexdigest()
            for x in s[mask]
        ]
    return out
