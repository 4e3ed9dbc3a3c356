"""Irregular recipes: forced strain ids in FASTA (unpublished data),
forced segment keys in tables (reference recipes.py:510-573)."""

import pytest

from octofludb_spark.extract.recipes import file_triples

pytestmark = pytest.mark.core

FID = "https://flu-crew.org/id/"
FT = "https://flu-crew.org/term/"
TAG = "https://flu-crew.org/tag/"


def _trips(df):
    return {(r.s, r.p, r.o) for r in df.itertuples(index=False)}


def test_irregular_fasta():
    # idiosyncratic id 'pig1' is forced to be a strain
    seq = "GATACAGATACAGATACAGATACAGATACA"
    out = _trips(file_triples("unpublished", f">pig1|H1N1\n{seq}\n"))
    import hashlib

    md5 = hashlib.md5(seq.encode()).hexdigest()
    assert (FID + "pig1", FT + "strain_id", "pig1") in out
    assert (FID + "pig1", FT + "subtype", "H1N1") in out
    assert (FID + "pig1", FT + "has_segment", FID + md5) in out
    assert (FID + md5, FT + "tag", TAG + "unpublished") in out
    assert (FID + md5, FT + "dnaseq", seq) in out


def test_irregular_segment_table():
    content = "myseg\tclade\nweird-id-7\talpha\n"
    out = _trips(file_triples("segtable", content))
    seg = FID + "weird_id_7"  # make_uri collapses '-' to '_'
    # attribute attaches to the forced segment; the segment itself
    # asserts no typename predicate (typename None)
    assert (seg, FT + "clade", "alpha") in out
    assert not any(p == FT + "myseg" for _, p, _ in out)
    assert not any(p == FT + "none" for _, p, _ in out)


def test_irregular_fuzz_vs_reference():
    """Live differential for the unpublished-data recipes
    (recipes.py:510-573): IrregularStrain/IrregularSegment match
    anything non-empty, the fasta variant tags every strain
    'unpublished', and the table variant consumes its FIRST header
    column as forced segment ids."""
    import os
    import random
    import sys
    import warnings

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "refshim"))
    sys.path.insert(1, "/root/reference")
    warnings.filterwarnings("ignore")
    from octofludb.recipes import IrregularFasta, IrregularSegmentTable

    def ref_triples(g):
        return {(str(s), str(p), str(o)) for s, p, o in g}

    def my_triples(df):
        return {(r.s, r.p, r.o) for r in df.itertuples(index=False)}

    rng = random.Random(8128)
    ids = ["my-weird-id", "x2", "17TOSU4242", "A01234567", "", "a b",
           "MY-SEG-1"]
    fields = ["H1N1", "2020-06-21", "swine", "alpha", "", "Texas",
              "MN123456", "1A.1.1"]
    headers = ["segid", "clade", "subtype", "host", "date", "notes"]
    checked = 0
    for _ in range(120):
        if rng.random() < 0.5:
            parts = []
            for _ in range(1 + rng.randrange(4)):
                hdr = "|".join([rng.choice(ids)]
                               + [rng.choice(fields)
                                  for _ in range(rng.randrange(3))])
                parts.append(">" + hdr)
                parts.append(rng.choice(["ATGG", "GGTT", "GATACA" * 5]))
            doc = "\n".join(parts)
            try:
                ref = ref_triples(IrregularFasta(doc, na_str=[]).connect())
            except BaseException:
                continue
            got = my_triples(file_triples("unpublished", doc))
        else:
            ncol = 2 + rng.randrange(3)
            cols = ["segid"] + [rng.choice(headers)
                                for _ in range(ncol - 1)]
            lines = ["\t".join(cols)]
            for _ in range(1 + rng.randrange(4)):
                lines.append("\t".join(
                    [rng.choice(ids)]
                    + [rng.choice(fields) for _ in range(ncol - 1)]))
            doc = "\n".join(lines)
            try:
                ref = ref_triples(
                    IrregularSegmentTable(doc, na_str=[]).connect())
            except BaseException:
                continue
            got = my_triples(file_triples("segtable", doc))
        assert got == ref, (doc, sorted(got ^ ref)[:6])
        checked += 1
    assert checked >= 80
