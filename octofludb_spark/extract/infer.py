"""Two-level type inference over parsed cells.

1. Column-level (reference HomoList.cast, classes.py:131-138): first
   classifier in the battery whose goodness (match fraction over
   non-NA cells) exceeds 0.8 types the whole column; else the default
   classifier (Unknown).
2. Cell-level (reference Datum.cast, classes.py:85-92): for ragged
   rows, the first classifier accepting the cell wins; empty cells are
   Missing.

Both preserve the reference's classifier ORDER (allClassifiers,
classifier_flucrew.py:532-564).  include/exclude both REMOVE entries
from the chain, faithful to updateClassifiers (classes.py:25-34).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd

from octofludb_spark.extract.emit import TypedColumn
from octofludb_spark.functions import recognizers as R
from octofludb_spark.functions.recognizers import (
    ALL_CLASSIFIERS,
    Recog,
    UNKNOWN,
)

GOODNESS_THRESHOLD = 0.8


def chain(include: set[str] | None = None,
          exclude: set[str] | None = None) -> list[Recog]:
    drop = (include or set()) | (exclude or set())
    return [r for r in ALL_CLASSIFIERS if r.name not in drop]


def _na_mask(s: pd.Series, na_str: Sequence[str]) -> pd.Series:
    mask = s.isna()
    if na_str:
        mask = mask | s.isin(list(na_str))
    return mask


def live_cells(values, na_str: Sequence[str] = ()) -> pd.Series:
    """Cells as an object Series; NA cells (null, or listed in
    ``na_str``) become None."""
    s = pd.Series(list(values), dtype=object)
    return s.where(~_na_mask(s, na_str), None)


def infer_column(live: pd.Series, doc: np.ndarray, n_docs: int,
                 classifiers: Optional[list[Recog]] = None):
    """Column-level inference for every document of one concatenated
    column (``doc`` = document index per cell).

    Each recognizer runs ONCE over the whole column; a document's
    goodness is its match fraction (token.py:121-131) — sequence
    tokens require len>20 and divide by ALL the document's cells
    (classifier_flucrew.py:433-444), others by its non-NA cells.  The
    first recognizer with goodness > 0.8 wins per document
    (HomoList.cast, classes.py:131-138).  Returns (chosen, results):
    chosen[d] None means the default classifier; results maps
    recognizer name -> its result over the whole column."""
    live_np = live.notna().to_numpy()
    chosen: list = [None] * n_docs
    results: dict[str, dict] = {}
    undecided = np.ones(n_docs, dtype=bool)
    n_live = np.bincount(doc, weights=live_np, minlength=n_docs)
    n_all = np.bincount(doc, minlength=n_docs)
    long_np = None  # len>20 mask: only sequence-mode recogs need it
    for recog in classifiers if classifiers is not None else ALL_CLASSIFIERS:
        if not undecided.any():
            break
        res = R.run_unique(recog, live)
        results[recog.name] = res
        match_np = res["clean"].notna().to_numpy() & live_np
        if recog.goodness_mode == "sequence":
            if long_np is None:
                long_np = (live.fillna("").astype(str).str.len()
                           > 20).to_numpy()
            match_np = match_np & long_np
            denom = n_all
        else:
            denom = n_live
        good = np.bincount(doc, weights=match_np, minlength=n_docs) \
            / np.maximum(denom, 1)
        good[denom == 0] = 0.0
        win = undecided & (good > GOODNESS_THRESHOLD)
        for d in np.flatnonzero(win):
            chosen[d] = recog
        undecided &= ~win
    return chosen, results


def typed_column(recog: Recog, live: pd.Series, field: Optional[str] = None,
                 results: Optional[dict] = None,
                 rows: Optional[np.ndarray] = None) -> TypedColumn:
    """``recog`` applied to the live cells (only the ``rows`` mask,
    when given), reusing its result from ``results`` when inference
    already ran it."""
    results = {} if results is None else results
    if recog.name not in results:
        results[recog.name] = R.run_unique(recog, live)
    res = results[recog.name]
    if rows is not None:
        live = live[rows].reset_index(drop=True)
        res = {k: v[rows].reset_index(drop=True) for k, v in res.items()}
    clean = res["clean"].where(live.notna(), None)
    dtype = res["dtype"].where(live.notna(), None) if "dtype" in res else None
    return TypedColumn(recog=recog, dirty=live, clean=clean, field=field,
                       dtype=dtype)


def typed(recog: Recog, values, field: Optional[str] = None,
          na_str: Sequence[str] = ()) -> TypedColumn:
    """Apply one recognizer to a value list (no inference)."""
    return typed_column(recog, live_cells(values, na_str), field)


def type_column(
    values: Sequence[str | None],
    field: Optional[str] = None,
    classifiers: Optional[list[Recog]] = None,
    na_str: Sequence[str] = (),
    default: Recog = UNKNOWN,
) -> TypedColumn:
    """HomoList semantics for one column: the one-document case of
    ``infer_column``; the winner (else ``default``) types every cell."""
    live = live_cells(values, na_str)
    (chosen,), results = infer_column(
        live, np.zeros(len(live), dtype=np.int64), 1, classifiers)
    return typed_column(chosen or default, live, field, results)


def type_table(
    data: dict[str, list[str | None]],
    classifiers: Optional[list[Recog]] = None,
    na_str: Sequence[str] = (),
) -> list[TypedColumn]:
    """tabularTyping (classes.py:192-210): one HomoList per column,
    keyed by header name."""
    return [
        type_column(v, field=k, classifiers=classifiers, na_str=na_str)
        for k, v in data.items()
    ]


def type_headless_table(
    rows: list[list[str]],
    classifiers: Optional[list[Recog]] = None,
    na_str: Sequence[str] = (),
) -> list[TypedColumn]:
    """headlessTabularTyping (classes.py:213-226): positional columns,
    no field names."""
    if not rows:
        return []
    ncol = len(rows[0])
    cols = []
    for i in range(ncol):
        cols.append(
            type_column([r[i] for r in rows], field=None,
                        classifiers=classifiers, na_str=na_str)
        )
    return cols


def type_ragged(
    rows: list[list[str]],
    classifiers: Optional[list[Recog]] = None,
    na_str: Sequence[str] = (),
    default: Recog = UNKNOWN,
) -> list[tuple[list[TypedColumn], np.ndarray]]:
    """Datum-per-cell typing for ragged rows (classes.py:311-316),
    regrouped into homogeneous sub-tables for vectorized emission.

    Returns [(typed_columns, original_row_indices), ...] — one entry
    per distinct row type-signature.  Cell-level classification itself
    is vectorized: each classifier runs once over the still-unresolved
    cells of a flattened cell table (first-match-wins preserved).
    """
    if not rows:
        return []
    chain_ = classifiers if classifiers is not None else ALL_CLASSIFIERS
    # flatten cells
    row_idx: list[int] = []
    col_idx: list[int] = []
    cells: list[str | None] = []
    for ri, row in enumerate(rows):
        for ci, cell in enumerate(row):
            row_idx.append(ri)
            col_idx.append(ci)
            cells.append(cell)
    s = pd.Series(cells, dtype=object)
    na = _na_mask(s, na_str)
    live = s.where(~na, None)
    empty = live.notna() & (live == "")  # Datum: '' -> Missing (classes.py:86-87)

    n = len(s)
    assigned = np.full(n, None, dtype=object)   # recog per cell
    cleaned = np.full(n, None, dtype=object)
    dtypes = np.full(n, None, dtype=object)
    unresolved = (~empty).to_numpy(dtype=bool)
    for recog in chain_:
        if not unresolved.any():
            break
        idx = np.flatnonzero(unresolved)
        sub = live.iloc[idx]
        res = recog.run(sub)
        clean = res["clean"]
        # token truthiness: match non-None and non-empty
        hit = (clean.notna() & (sub.astype("object").fillna("") != "")).to_numpy(dtype=bool)
        if recog is UNKNOWN:
            # Unknown is the terminal default: matches any non-NA cell
            hit = sub.notna().to_numpy(dtype=bool)
        if not hit.any():
            continue
        hidx = idx[hit]
        for j, k in zip(hidx, np.flatnonzero(hit)):
            assigned[j] = recog
            cleaned[j] = clean.iloc[k]
            if "dtype" in res:
                dtypes[j] = res["dtype"].iloc[k]
        unresolved[hidx] = False
    # leftovers -> default classifier (match may be None => clean None)
    for j in np.flatnonzero(unresolved):
        assigned[j] = default
        cleaned[j] = None if live.iloc[j] is None else live.iloc[j]
    for j in np.flatnonzero(empty.to_numpy(dtype=bool)):
        assigned[j] = None  # Missing: contributes nothing
        cleaned[j] = None

    # regroup rows by signature of (arity, recog names per cell)
    per_row: dict[int, list[int]] = {}
    for k, ri in enumerate(row_idx):
        per_row.setdefault(ri, []).append(k)
    groups: dict[tuple, list[int]] = {}
    for ri, ks in per_row.items():
        sig = tuple(
            assigned[k].name if assigned[k] is not None else "__missing__"
            for k in ks
        )
        groups.setdefault(sig, []).append(ri)

    out = []
    for sig, ris in groups.items():
        ncol = len(sig)
        cols: list[TypedColumn] = []
        for ci in range(ncol):
            ks = [per_row[ri][ci] for ri in ris]
            recog = assigned[ks[0]]
            dirty = pd.Series([live.iloc[k] for k in ks], dtype=object)
            if recog is None:  # Missing column: all-None clean
                cols.append(TypedColumn(recog=UNKNOWN, dirty=dirty,
                                        clean=pd.Series([None] * len(ks), dtype=object)))
                continue
            cl = pd.Series([cleaned[k] for k in ks], dtype=object)
            dt = pd.Series([dtypes[k] for k in ks], dtype=object)
            cols.append(TypedColumn(recog=recog, dirty=dirty, clean=cl,
                                    dtype=dt if dt.notna().any() else None))
        out.append((cols, np.asarray(ris)))
    return out
