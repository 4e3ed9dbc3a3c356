"""Precision/recall of emitted triples against the reference-derived
golden corpus (BASELINE.json correctness gate: P/R >= 0.95).

Golden (s, p, o) sets are transcribed from the reference's own suite
(runtests.py:537-554, 640-661, 664-757) and its checked-in end-to-end
output (test-data/.exp-gisaid.ttl) — the same fixtures the pytest
suite asserts exact equality on; this tool aggregates them into the
single micro-averaged P/R number and prints a markdown table to stdout
(it writes no file).

    python3 tools/pr_report.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from octofludb_spark.extract.recipes import file_triples

FID = "https://flu-crew.org/id/"
FT = "https://flu-crew.org/term/"
SAME = "http://www.w3.org/2002/07/owl#sameAs"

CASES = []


def case(name, lang, content, golden):
    CASES.append((name, lang, content, golden))


# runtests.py:664-709
case("fasta_ragged", "fasta", ">baz\nATGG\n>foo||z\nATGGG", {
    (FID + "4badd1687f27faae29f9b1fe1ea37e78", FT + "chksum",
     "4badd1687f27faae29f9b1fe1ea37e78"),
    (FID + "4badd1687f27faae29f9b1fe1ea37e78", FT + "dnaseq", "ATGGG"),
    (FID + "4badd1687f27faae29f9b1fe1ea37e78", FT + "unknown", "foo"),
    (FID + "4badd1687f27faae29f9b1fe1ea37e78", FT + "unknown", "z"),
    (FID + "5b2033ab635505389b1acfa0d6eda05c", FT + "chksum",
     "5b2033ab635505389b1acfa0d6eda05c"),
    (FID + "5b2033ab635505389b1acfa0d6eda05c", FT + "dnaseq", "ATGG"),
    (FID + "5b2033ab635505389b1acfa0d6eda05c", FT + "unknown", "baz"),
})
# runtests.py:711-757
case("fasta_genbank", "fasta", ">MC123456\nATGGATGG\n>MC123457||z\nATGGGATGGG", {
    (FID + "mc123456", FT + "chksum", "c0a0ebddc678651ab0bcbbb4276af291"),
    (FID + "mc123456", FT + "dnaseq", "ATGGATGG"),
    (FID + "mc123456", FT + "genbank_id", "MC123456"),
    (FID + "mc123457", FT + "chksum", "460a05ce52afb5bf34785e743d485aff"),
    (FID + "mc123457", FT + "dnaseq", "ATGGGATGGG"),
    (FID + "mc123457", FT + "genbank_id", "MC123457"),
    (FID + "mc123457", FT + "unknown", "z"),
})
# runtests.py:640-661 (phrase as single-entry fasta with strain+subtype)
case("phrase", "fasta",
     ">A/swine/bogus/A01234567/2021|H1N1\n" + "G" * 30, None)


def gisaid_case():
    """The reconstructed VNM isolate row vs the golden turtle subset."""
    from octofludb_spark.plans.turtle import parse_turtle
    from tests.test_turtle_golden import GOLDEN, SEG_EPI, _vnm_row_content

    if not os.path.exists(GOLDEN):
        return None
    golden = parse_turtle(open(GOLDEN).read())
    subjects = {FID + "epi_isl_218508"} | {
        FID + e.lower() for e in SEG_EPI.values()
    }
    want = {t for t in golden if t[0] in subjects}
    case("gisaid_vnm_isolate", "gisaid", _vnm_row_content(), want)


def live_reference_corpus():
    """Micro P/R over the bench corpus with the REFERENCE PIPELINE
    ITSELF as the oracle (executed via tests/refshim) — thousands of
    triples, not transcriptions."""
    import io
    import warnings

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                    "tests", "refshim"))
    sys.path.insert(1, "/root/reference")
    warnings.filterwarnings("ignore")
    import contextlib

    with contextlib.redirect_stderr(io.StringIO()):
        from octofludb.classes import Ragged, Table
        from octofludb.recipes import mk_blast, mk_influenza_na

        from octofludb_spark.sources.synth import source_pandas

        tp = fp = fn = 0
        docs = 0
        for row in source_pandas(280).itertuples(index=False):
            if row.lang == "fasta":
                ref = Ragged(row.content, na_str=[]).connect()
            elif row.lang == "tsv":
                ref = Table(row.content, na_str=[]).connect()
            elif row.lang == "blast":
                ref = mk_blast(io.StringIO(row.content), tag=None)
            elif row.lang == "ivr":
                ref = mk_influenza_na(io.StringIO(row.content))
            else:
                continue
            want = {(str(s), str(p), str(o)) for s, p, o in ref}
            got_df = file_triples(row.lang, row.content)
            got = {(r.s, r.p, r.o) for r in got_df.itertuples(index=False)}
            tp += len(got & want)
            fp += len(got - want)
            fn += len(want - got)
            docs += 1
    return docs, tp, fp, fn


def main() -> None:
    gisaid_case()
    tp = fp = fn = 0
    rows = []
    for name, lang, content, golden in CASES:
        got_df = file_triples(lang, content)
        got = {(r.s, r.p, r.o) for r in got_df.itertuples(index=False)}
        if golden is None:
            continue
        tp_i = len(got & golden)
        fp_i = len(got - golden)
        fn_i = len(golden - got)
        tp, fp, fn = tp + tp_i, fp + fp_i, fn + fn_i
        p = tp_i / max(tp_i + fp_i, 1)
        r = tp_i / max(tp_i + fn_i, 1)
        rows.append((name, len(golden), p, r))
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    live = None
    if os.path.isdir("/root/reference"):
        live = live_reference_corpus()
    print("# PR — triple-level precision/recall vs the reference\n")
    print("## Transcribed goldens (reference test suite + checked-in "
          "gisaid turtle)\n")
    print("| case | golden triples | precision | recall |\n|---|---|---|---|")
    for name, n, p, r in rows:
        print(f"| {name} | {n} | {p:.3f} | {r:.3f} |")
    print(f"\n**Micro-averaged: precision {precision:.3f}, "
          f"recall {recall:.3f}** (gate: >= 0.95)")
    if live:
        docs, ltp, lfp, lfn = live
        lp = ltp / max(ltp + lfp, 1)
        lr = ltp / max(ltp + lfn, 1)
        print(f"""
## Live reference oracle (reference pipeline executed via tests/refshim)

The reference's own Ragged/Table/mk_blast/mk_influenza_na ingestion
code ran over {docs} documents of the synthetic bench corpus; our
recipes' triple sets were compared exactly.

**{ltp + lfn:,} oracle triples: precision {lp:.4f}, recall {lr:.4f}**
(tp={ltp:,} fp={lfp} fn={lfn})
""")
    print(f"transcribed: precision={precision:.3f} recall={recall:.3f} "
          f"(tp={tp} fp={fp} fn={fn})")


if __name__ == "__main__":
    main()
