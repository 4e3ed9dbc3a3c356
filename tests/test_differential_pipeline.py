"""TRIPLE-level differential testing: the reference's own ingestion
pipeline (classes.Ragged / classes.Table / recipes.mk_blast /
recipes.mk_influenza_na, executed via tests/refshim) versus this
engine's recipes, compared as exact (s, p, o) string sets — on the
very documents the synthetic bench corpus is made of, plus fuzzed
variants.  This is the P/R oracle computed BY the reference, not
transcribed from it."""

from __future__ import annotations

import io
import os
import random
import sys
import warnings

import pytest

_SHIM = os.path.join(os.path.dirname(__file__), "refshim")
_REF = "/root/reference"
if not os.path.isdir(_REF):
    pytest.skip("reference checkout not present", allow_module_level=True)
sys.path.insert(0, _SHIM)
sys.path.insert(1, _REF)
warnings.filterwarnings("ignore")

from octofludb.classes import Ragged, Table  # noqa: E402
from octofludb.recipes import mk_blast, mk_influenza_na, mk_ird  # noqa: E402

from octofludb_spark.extract.recipes import RECIPES, file_triples  # noqa: E402
from octofludb_spark.sources.synth import source_pandas  # noqa: E402


def ref_triples(g):
    return {(str(s), str(p), str(o)) for s, p, o in g}


def my_triples(df):
    return {(r.s, r.p, r.o) for r in df.itertuples(index=False)}


def _compare(content, lang):
    if lang == "fasta":
        ref = ref_triples(Ragged(content, na_str=[]).connect())
        got = my_triples(file_triples("fasta", content))
    elif lang == "tsv":
        try:
            ref = ref_triples(Table(content, na_str=[]).connect())
        except IndexError:
            # the reference CRASHES on rows with trailing empty cells
            # (classes.py:275 rstrips the tabs away); our parser is
            # deliberately lenient there — nothing to compare
            return None
        got = my_triples(file_triples("tsv", content))
    elif lang == "blast":
        # newline=None == open(path, 'r'): the line recipes only ever
        # see files through click.File (universal newlines), so the
        # oracle models that path
        ref = ref_triples(mk_blast(io.StringIO(content, newline=None),
                                   tag=None))
        got = my_triples(file_triples("blast", content))
    elif lang == "ivr":
        ref = ref_triples(mk_influenza_na(io.StringIO(content,
                                                      newline=None)))
        got = my_triples(file_triples("ivr", content))
    elif lang == "ird":
        ref = ref_triples(mk_ird(io.StringIO(content, newline=None)))
        got = my_triples(file_triples("ird", content))
    else:
        return None
    assert got == ref, (lang, sorted(got ^ ref)[:6])
    return len(ref)


def test_synth_corpus_matches_reference_pipeline():
    """Every fasta/tsv/blast/ivr document of the bench corpus emits
    EXACTLY the reference pipeline's triples."""
    pdf = source_pandas(140)
    total = 0
    compared = 0
    for row in pdf.itertuples(index=False):
        n = _compare(row.content, row.lang)
        if n is not None:
            compared += 1
            total += n
    assert compared >= 70 and total > 3000


def test_fuzzed_fasta_matches_reference_pipeline():
    """Mutated fasta documents (ragged arities, junk fields, short
    seqs, empty fields) still match the reference exactly."""
    rnd = random.Random(11)
    fields = ["A/swine/Iowa/A01234567/2020", "H1N1", "2020-06-21", "baz",
              "EPI_ISL_123", "MC123456", "", "alpha", "Texas", "swine",
              "17TOSU4242", "1A.1.1", "PB2", "2011/05", "yolo", "Georgia"]
    seqs = ["ATGG", "GATACA" * 6, "A", "ATRYATTNN", "GANDALF" * 4]
    for _ in range(60):
        n_entries = 1 + rnd.randint(0, 4)
        doc = []
        for _ in range(n_entries):
            k = rnd.randint(1, 4)
            hdr = "|".join(rnd.choice(fields) for _ in range(k))
            doc.append(">" + hdr)
            doc.append(rnd.choice(seqs))
        _compare("\n".join(doc), "fasta")


def test_fuzzed_tables_match_reference_pipeline():
    rnd = random.Random(13)
    headers = ["seqid", "clade", "strain_name", "subtype", "gl_clade",
               "segment_subtype", "isolate_id", "whatever"]
    cells = ["MN123456", "alpha", "A/swine/Iowa/X/2020", "H1N1", "1A.1.1",
             "H1", "EPI_ISL_5", "x y z", "", "Texas", "2020-06-21", "42"]
    for _ in range(40):
        ncol = 2 + rnd.randint(0, 3)
        cols = rnd.sample(headers, ncol)
        lines = ["\t".join(cols)]
        for _ in range(1 + rnd.randint(0, 5)):
            lines.append("\t".join(rnd.choice(cells) for _ in cols))
        _compare("\n".join(lines), "tsv")


def test_fuzzed_mixed_goodness_tables_match_reference_pipeline():
    """Harder fuzz aimed at the column-inference decisions: columns
    whose match fraction sits near the 0.8 goodness threshold, many
    date lexical forms, >20-char sequence cells (the 'sequence'
    goodness mode divides by ALL cells), NA-like strings, and numeric/
    boolean cells — exactly the conditional paths of tabularTyping."""
    rnd = random.Random(17)
    headers = ["seqid", "clade", "strain_name", "subtype", "gl_clade",
               "segment_subtype", "isolate_id", "notes", "host",
               "country", "date", "dnaseq", "proseq", "count", "flag"]
    pools = {
        "date": ["2020-06-21", "06/21/2020", "2020/06", "2020",
                 "21-Jun-2020", "not a date", ""],
        "near_threshold": ["MN123456", "MN654321", "EPI_ISL_5",
                           "junk", "A/swine/Iowa/X/2020"],
        "seq": ["ATGGATTACAGATTACAGATTACAA", "GATACA" * 8,
                "MKVNLLLLAVSLSLAIMSQA", "short", ""],
        "num": ["42", "3.14", "0", "-7", "true", "False", "NaN"],
        "word": ["swine", "Human", "Texas", "indonesa", "H1", "alpha",
                 "1A.1.1", "unknown", "NA", ""],
    }
    flat = [c for p in pools.values() for c in p]
    compared = 0
    for _ in range(80):
        ncol = 2 + rnd.randint(0, 5)
        cols = rnd.sample(headers, ncol)
        kinds = [rnd.choice(list(pools)) for _ in cols]
        lines = ["\t".join(cols)]
        for _ in range(3 + rnd.randint(0, 12)):
            row = []
            for kind in kinds:
                # mostly draw from the column's pool, sometimes cross-
                # contaminate so per-file goodness straddles 0.8
                pool = pools[kind] if rnd.random() < 0.85 else flat
                row.append(rnd.choice(pool))
            lines.append("\t".join(row))
        if _compare("\n".join(lines), "tsv") is not None:
            compared += 1
    assert compared >= 40  # reference IndexErrors skip some


def test_fuzzed_tables_batched_equals_per_file():
    """One batch of fuzzed tables (signature-grouped emission) must
    equal one-document batches of the same tables — batching is an
    execution strategy, never a semantics change."""
    import numpy as np

    rnd = random.Random(19)
    headers = ["seqid", "clade", "strain_name", "subtype", "host",
               "country", "date", "dnaseq", "count"]
    cells = ["MN123456", "alpha", "A/swine/Iowa/X/2020", "H1N1",
             "swine", "Texas", "2020-06-21", "06/21/2020",
             "ATGGATTACAGATTACAGATTACAA", "42", "junk", ""]
    docs = []
    for _ in range(25):
        ncol = 2 + rnd.randint(0, 4)
        cols = rnd.sample(headers, ncol)
        lines = ["\t".join(cols)]
        for _ in range(1 + rnd.randint(0, 8)):
            lines.append("\t".join(rnd.choice(cells) for _ in cols))
        docs.append("\n".join(lines))

    batched = RECIPES["tsv"](list(enumerate(docs)))
    got_by_src = {}
    for r in batched.itertuples(index=False):
        got_by_src.setdefault(int(r.src), set()).add((r.s, r.p, r.o))
    for i, doc in enumerate(docs):
        per_file = my_triples(file_triples("tsv", doc))
        assert got_by_src.get(i, set()) == per_file, f"doc {i}"


def test_midline_gt_starts_new_fasta_record():
    """The reference grammar's sequence regex excludes '>', so ANY '>'
    after the header line starts a new record — not only line-initial
    ones (classes.py:329-337).  Headers may contain '>'."""
    cases = [
        ">h1\nACGT>h2\nGGGG",          # mid-line split
        ">a>b\nACGT",                   # '>' inside a header
        ">x\nAC GT\nTT>y|H1N1\nCCCC",  # split after spaced sequence
    ]
    for c in cases:
        _compare(c, "fasta")


def test_fasta_grammar_fuzz_vs_reference():
    """Property fuzz of the raw FASTA grammar (classes.py:329-337):
    random documents over an alphabet loaded with the grammar's
    control characters ('>', '|', every newline flavor, tab, space,
    form-feed) must emit EXACTLY the reference pipeline's triples.
    Documents start with '>' (the reference parser dies on leading
    junk; our leniency there is a documented deviation)."""
    alphabet = list("ACGT>|hx19/ \t\n\r") + ["\r\n", "\x0c", "--"]
    rng = random.Random(202608)
    checked = 0
    for _ in range(400):
        body = "".join(rng.choice(alphabet)
                       for _ in range(rng.randrange(0, 60)))
        content = ">" + body
        try:
            ref = ref_triples(Ragged(content, na_str=[]).connect())
        except Exception:
            # the reference grammar itself rejects this document —
            # nothing to compare (many1/alt backtracking limits)
            continue
        got = my_triples(file_triples("fasta", content))
        assert got == ref, (content, sorted(got ^ ref)[:6])
        checked += 1
    assert checked >= 300  # the grammar accepts nearly everything


def test_tsv_raw_char_fuzz_vs_reference():
    """Raw-character fuzz of the table reader (classes.py:270-290):
    per-line rstrip, per-cell strip, interior \\r and spaces, blank
    lines, whitespace-only cells, and DUPLICATE header names (the
    reference's dict build keeps the LAST duplicate column) must all
    match the reference pipeline triple-for-triple.  Reference
    IndexErrors (trailing-empty-cell rows after rstrip) are skipped —
    the documented lenient deviation."""
    rng = random.Random(80217)
    headers = ["seqid", "clade", "strain_name", "subtype", "clade",
               " host ", "notes\r", ""]
    cellchars = list("MN1234 \r") + ["\t? ", "A/swine/Iowa/X/2020",
                                     "H1N1", "", "  ", "\r", "x\ry"]
    compared = 0
    for _ in range(250):
        ncol = 1 + rng.randrange(4)
        cols = [rng.choice(headers) for _ in range(ncol)]
        lines = ["\t".join(cols)]
        for _ in range(rng.randrange(6)):
            lines.append("\t".join(
                "".join(rng.choice(cellchars)
                        for _ in range(rng.randrange(3)))
                for _ in range(ncol)))
        doc = "\n".join(lines) + rng.choice(["", "\n", "\n\n", "\r\n"])
        if _compare(doc, "tsv") is not None:
            compared += 1
    assert compared >= 70  # reference IndexErrors skip the rest


def test_blast_ivr_raw_char_fuzz_vs_reference():
    """Raw-character fuzz of the blast outfmt-6 and IVR line readers
    (recipes.py:21-110): numeric lexical forms (ints rendered as
    floats, exponents, signs), URI-quoted seqids, the IVR strain
    regex's first-match-anywhere semantics, unstripped host cells,
    and \\r\\n endings.  The reference sys.exits on bad arity and
    raises on unparseable numerics — those documents are skipped,
    exactly as a reference user's run would die."""
    rng = random.Random(61803)
    nums = ["1", "42", "3.14", "-7", "0", "1e-5", "2E3", "007", "1.0"]
    ids = ["MN123456", "a|b", "x y", "A01234567", "seg/PB2", ""]
    strains = ["A/swine/Iowa/X/2020", "junk A/x(y)z", "B/Texas/1/99 (H1)",
               "nope", "C/ D/e", ""]
    hosts = ["Swine", " human ", "x\ry", ""]
    checked = {"blast": 0, "ivr": 0}
    for _ in range(200):
        kind = rng.choice(["blast", "ivr"])
        lines = []
        for _ in range(1 + rng.randrange(3)):
            if kind == "blast":
                ints = ["1", "42", "-7", "0", "007", " 8 "]
                floats = nums + [" 9.5 "]
                f = [rng.choice(ids), rng.choice(ids), rng.choice(floats)] \
                    + [rng.choice(ints) for _ in range(7)] \
                    + [rng.choice(floats), rng.choice(floats)]
                if rng.random() < 0.1:
                    f = f[:rng.randrange(1, 12)]  # bad arity -> exits
            else:
                f = [rng.choice(ids), rng.choice(hosts), rng.choice(nums),
                     "H1N1", "USA", "2020-06-21", rng.choice(nums),
                     rng.choice(strains), "x", "y",
                     rng.choice(["Complete", " partial ", ""])]
                if rng.random() < 0.1:
                    f = f[:rng.randrange(1, 11)]
            lines.append("\t".join(f))
        doc = rng.choice(["\n", "\r\n"]).join(lines) \
            + rng.choice(["", "\n", "\r\n"])
        try:
            n = _compare(doc, kind)
        except BaseException as e:  # SystemExit = reference's own death
            if isinstance(e, AssertionError):
                raise
            continue
        if n is not None:
            checked[kind] += 1
    assert min(checked.values()) >= 40, checked


def test_ird_raw_char_fuzz_vs_reference():
    """Live differential for the IRD recipe (recipes.py:113-151): the
    '-N/A-' na sentinel, the host cell's IRD:-prefix strip + lower
    (no whitespace strip), Country WITHOUT the na sentinel, and the
    skipped columns, fuzzed at the raw-character level."""
    rng = random.Random(271828)
    na = "-N/A-"
    segs = ["4", "1", "8", na, "x"]
    gbs = ["MN123456", "K00869", na, "", "junk"]
    nums = ["1701", "42", na, "3.14", ""]
    subs = ["H1N1", "mixed,H1N1", na, "H5"]
    dates = ["2020-06-21", "2020", na, "06/21/2020", "nope"]
    hosts = ["IRD:Swine", "Human", " swine ", na, "", "IRD:IRD:x"]
    countries = ["USA", "Viet Nam", na, "indonesa", ""]
    seasons = ["19-20", na, ""]
    strains = ["A/swine/Iowa/X/2020", "A/Texas/1/99 (H1N1)", na, "junk", ""]
    checked = 0
    for _ in range(120):
        lines = []
        for _ in range(1 + rng.randrange(3)):
            f = [rng.choice(segs), "prot", rng.choice(gbs), "cg",
                 rng.choice(nums), rng.choice(subs), rng.choice(dates),
                 rng.choice(hosts), rng.choice(countries), "state",
                 rng.choice(seasons), rng.choice(strains), "curation"]
            if rng.random() < 0.1:
                f = f[:rng.randrange(1, 12)]  # reference sys.exits
            lines.append("\t".join(f))
        doc = rng.choice(["\n", "\r\n"]).join(lines) \
            + rng.choice(["", "\n", "\r\n"])
        try:
            n = _compare(doc, "ird")
        except BaseException as e:
            if isinstance(e, AssertionError):
                raise
            continue
        if n is not None:
            checked += 1
    assert checked >= 60, checked


def test_ird_newline_terminated_strain_rejected():
    """readlines keeps the terminator on the line, so the LAST tab
    field of a newline-terminated 12-field IRD line carries '\n' into
    the strain grammar, which rejects it — the row keeps its genbank
    anchor but loses every strain-anchored triple (regression: we
    used to strip the newline and emit the full row)."""
    line = ("4\tprot\tMN123456\tcg\t1701\tH1N1\t2020-06-21\tIRD:Swine"
            "\tUSA\tstate\t19-20\tB/Texas/1/99 (H1)")
    full = _compare(line, "ird")                 # unterminated: full row
    for suffix in ("\n", "\r\n"):
        n = _compare(line + suffix, "ird")       # parity, strain dropped
        assert n < full
        got = my_triples(file_triples("ird", line + suffix))
        assert not any("texas" in s for s, _, _ in got)


def test_gisaid_columns_fuzz_vs_reference():
    """Live differential for the GISAID recipe (recipes.py:154-234):
    the reference's mk_gis runs with read_excel monkeypatched to a
    synthetic sheet; fuzz covers the ' | '-suffix strip on Segment_Id,
    comma-split zip truncation of unequal epi/genbank lists, EMPTY
    Segment_Id cells ([''], which a bare INSDC genbank id still
    anchors — only None/missing skips), the 'Location'.split(' / ')[1]
    country, and the strain-parse row skip."""
    import octofludb.recipes as ref_recipes
    import pandas as _pd

    from octofludb_spark.extract.recipes import gisaid_column_triples

    rng = random.Random(5150)
    segs = ("PB2", "PB1", "PA", "HA", "NP", "NA", "MP", "NS")
    pools = {
        "Isolate_Id": ["EPI_ISL_123", "EPI_ISL_9", "", "junk"],
        "Isolate_Name": ["A/swine/Iowa/X/2020", "A/Texas/1/99 (H1N1)",
                         "B/x/1999 [foo]", "", "garbage", "A/x (a) (b)"],
        "Host": ["Swine", "Human", "", "ferret"],
        "Subtype": ["H1N1", "", "mixed", "H5"],
        "Lineage": ["pdm09", "", "x"],
        "Location": ["North America / USA / Iowa", "Asia / Viet Nam",
                     "USA", "", "x / indonesa / y"],
        "Collection_Date": ["2020-06-21", "2020", "", "junk"],
        "Submission_Date": ["2020-06-21", "2020", "", "junk"],
    }
    epis = ["EPI123456", "EPI1 | stuff", "EPI1|x,EPI2 | y", "", "a,b,c"]
    gbks = ["MN123456", "MN1,MN2", "", "j"]
    orig = ref_recipes.pd.read_excel
    try:
        for _ in range(80):
            nrow = 1 + rng.randrange(3)
            d = {k: [rng.choice(v) for _ in range(nrow)]
                 for k, v in pools.items()}
            for seg in segs:
                d[seg + " Segment_Id"] = [rng.choice(epis)
                                          for _ in range(nrow)]
                d[seg + " INSDC_Upload"] = [rng.choice(gbks)
                                            for _ in range(nrow)]
            fdf = _pd.DataFrame(d)
            ref_recipes.pd.read_excel = lambda *a, **k: fdf
            ref = ref_triples(ref_recipes.mk_gis("fake.xls"))
            got = my_triples(gisaid_column_triples([(0, d)]))
            assert got == ref, sorted(got ^ ref)[:6]
    finally:
        ref_recipes.pd.read_excel = orig


def test_subtype_lattice_fuzz_vs_reference():
    """The subtype priority lattice (octoFLU > genbank > gisaid,
    conflicts -> 'mixed') fuzz-compared against the reference's own
    _get_subtype (recipes.py:291-335) over 20k argument tuples.
    resolve_subtype is the python spec the Spark expression in
    subtypes_report is equivalence-tested against."""
    from octofludb.recipes import _get_subtype

    from octofludb_spark.plans.reports import resolve_subtype

    rng = random.Random(1618)
    vals = ["H1", "N1", "h1", "N2", "H3", "", "x", "H1N1", "a(H3N2)b",
            "mixed", " h1n2 ", "swine H1avN2", "H10N7", "junk", "H1 N1",
            "N", "H", "hxny", "A / H1N1", "pdm", "H1n1v"]
    for _ in range(20000):
        args = [[rng.choice(vals) for _ in range(rng.randrange(4))]
                for _ in range(4)]
        assert _get_subtype("s", *args) == resolve_subtype(*args), args


def test_levels_and_na_str_fuzz_vs_reference():
    """The two ingestion knobs every recipe threads through —
    `levels` (emit only these fields) and `na_str` (cell values
    treated as missing, including values that overlap real content) —
    fuzz-compared against the reference pipeline."""
    rng = random.Random(3333)
    fields = ["A/swine/Iowa/A01234567/2020", "H1N1", "2020-06-21",
              "EPI_ISL_123", "MN123456", "1A.1.1", "PB2", "Texas",
              "swine", "NA", "unknown", "", "-N/A-", "x"]
    level_names = ["strain_name", "subtype", "date", "isolate_id",
                   "genbank_id", "gl_clade", "segment_name", "state",
                   "host", "barcode", "unknown"]
    headers = ["seqid", "clade", "strain_name", "subtype", "host",
               "country", "date", "notes"]
    na_pools = [[], ["NA"], ["NA", ""], ["-N/A-", "NA"], ["unknown"],
                ["", "x"], ["swine"]]
    checked = 0
    for _ in range(150):
        na = rng.choice(na_pools)
        levels = (set(rng.sample(level_names, rng.randrange(1, 5)))
                  if rng.random() < 0.7 else None)
        if rng.random() < 0.5:
            parts = []
            for _ in range(1 + rng.randrange(3)):
                parts.append(">" + "|".join(
                    rng.choice(fields) for _ in range(1 + rng.randrange(4))))
                parts.append(rng.choice(["ATGG", "GATACA" * 6]))
            doc = "\n".join(parts)
            ref = ref_triples(
                Ragged(doc, levels=levels, na_str=list(na)).connect())
            got = my_triples(
                file_triples("fasta", doc, levels=levels, na_str=tuple(na)))
        else:
            cols = rng.sample(headers, 2 + rng.randrange(3))
            lines = ["\t".join(cols)]
            for _ in range(2 + rng.randrange(5)):
                lines.append("\t".join(rng.choice(fields) for _ in cols))
            doc = "\n".join(lines)
            try:
                ref = ref_triples(
                    Table(doc, levels=levels, na_str=list(na)).connect())
            except IndexError:
                continue
            got = my_triples(
                file_triples("tsv", doc, levels=levels, na_str=tuple(na)))
        assert got == ref, (doc, levels, na, sorted(got ^ ref)[:6])
        checked += 1
    assert checked >= 100


def test_include_exclude_fuzz_vs_reference():
    """--include/--exclude classifier removal (the reference's
    updateClassifiers pops BOTH sets, classes.py:25-34) fuzz-compared
    against the reference.  Quirk adjudicated: updateClassifiers
    mutates the module-level allClassifiers OrderedDict in place, so
    repeated in-process constructions see a progressively emptied
    chain — the oracle restores the dict per document to model the
    real one-invocation-per-process CLI."""
    import collections

    import octofludb.classifier_flucrew as fc

    from octofludb_spark.extract.infer import chain

    saved = collections.OrderedDict(fc.allClassifiers)
    rng = random.Random(4444)
    names = ["strain_name", "subtype", "date", "isolate_id",
             "genbank_id", "gl_clade", "segment_name", "state", "host",
             "barcode", "dnaseq", "country", "unknown"]
    fields = ["A/swine/Iowa/A01234567/2020", "H1N1", "2020-06-21",
              "EPI_ISL_123", "MN123456", "1A.1.1", "PB2", "Texas",
              "swine", "ATGGATTACAGATTACAGATTAC", "x", ""]
    headers = ["seqid", "clade", "strain_name", "subtype", "host",
               "country", "date", "notes"]
    checked = 0
    try:
        for _ in range(120):
            inc = set(rng.sample(names, rng.randrange(0, 3)))
            exc = set(rng.sample(names, rng.randrange(0, 3)))
            fc.allClassifiers.clear()
            fc.allClassifiers.update(saved)
            if rng.random() < 0.5:
                parts = []
                for _ in range(1 + rng.randrange(3)):
                    parts.append(">" + "|".join(
                        rng.choice(fields)
                        for _ in range(1 + rng.randrange(4))))
                    parts.append(rng.choice(["ATGG", "GATACA" * 6]))
                doc = "\n".join(parts)
                try:
                    ref = ref_triples(Ragged(doc, include=set(inc),
                                             exclude=set(exc),
                                             na_str=[]).connect())
                except KeyError:
                    # a name in BOTH sets double-pops -> the
                    # reference itself crashes; nothing to compare
                    continue
                got = my_triples(
                    file_triples("fasta", doc, classifiers=chain(inc, exc)))
            else:
                cols = rng.sample(headers, 2 + rng.randrange(3))
                lines = ["\t".join(cols)]
                for _ in range(2 + rng.randrange(4)):
                    lines.append("\t".join(rng.choice(fields)
                                           for _ in cols))
                doc = "\n".join(lines)
                try:
                    ref = ref_triples(Table(doc, include=set(inc),
                                            exclude=set(exc),
                                            na_str=[]).connect())
                except (IndexError, KeyError):
                    continue
                got = my_triples(
                    file_triples("tsv", doc, classifiers=chain(inc, exc)))
            assert got == ref, (doc, inc, exc, sorted(got ^ ref)[:6])
            checked += 1
    finally:
        fc.allClassifiers.clear()
        fc.allClassifiers.update(saved)
    assert checked >= 80
