"""The batching invariant: a recipe run over ONE batch of many documents
emits, per ``src``, exactly the triples of running each document as its
own one-document batch — batching is an execution strategy, never a
semantics change (column inference stays per document)."""

import base64
import itertools

import pytest

from octofludb_spark.extract.infer import chain
from octofludb_spark.extract.recipes import RECIPES, file_triples
from octofludb_spark.extract.xls import write_xlsx
from octofludb_spark.functions.uri import make_tag_uri
from octofludb_spark.sources.synth import source_pandas


def _sets(df, cols=("s", "p", "o", "dt")):
    return set(map(tuple, df[list(cols)].values))


def _docs() -> dict[str, list[str]]:
    """Documents per lang: source_pandas(120), plus a few documents of
    each lang it lacks, derived from its documents (irregular recipes
    over fasta/tsv, GISAID sheets as base64 xlsx, IRD lines widened
    from IVR lines)."""
    pdf = source_pandas(120)
    docs = {lang: list(grp["content"]) for lang, grp in pdf.groupby("lang")}
    docs["unpublished"] = docs["fasta"][:4]
    docs["segtable"] = docs["tsv"][:4]
    docs["gisaid_xls"] = [
        base64.b64encode(write_xlsx(
            [ln.split("\t") for ln in c.split("\n")])).decode()
        for c in docs["gisaid"]]
    docs["ird"] = [
        "\n".join("\t".join([str(i % 8 + 1), "-N/A-"] + ln.split("\t")[:10])
                  for i, ln in enumerate(c.split("\n")))
        for c in docs["ivr"]]
    return docs


def _assert_batch_invariant(lang, contents, taguri=None, **opts):
    """-> the batch's triples, after checking them per src."""
    items = list(enumerate(contents))
    out = RECIPES[lang](items, taguri=taguri, **opts)
    batched = {src: _sets(sub) for src, sub in out.groupby("src")}
    for i, c in items:
        one = _sets(file_triples(lang, c, taguri=taguri, **opts))
        assert batched.get(i, set()) == one, (lang, i, opts)
    return _sets(out)


DOCS = _docs()


def _assert_every_lang(taguri):
    for lang in sorted(RECIPES):
        got = _assert_batch_invariant(lang, DOCS[lang], taguri=taguri)
        assert got or (lang == "ids" and not taguri), lang  # ids need a tag


def test_batched_equals_per_file():
    """Every lang, untagged: one batch == one-document batches."""
    _assert_every_lang(None)


def test_batched_with_tag_parity():
    """Every lang, tagged: one batch == one-document batches."""
    _assert_every_lang(make_tag_uri("roundtrip"))


def _ragged(fastas):
    """Two-record documents whose headers differ in arity."""
    return [a + "\n" + b.replace("\n", extra + "\n", 1)
            for (a, b), extra in zip(zip(fastas, fastas[1:]),
                                     itertools.cycle(["|x", "||z",
                                                      "|H3N2|swine"]))]


# (default, one other value) per option
LEVELS = [None, {"strain_name", "subtype"}]
NA_STR = [(), ("mixed", "N1")]
CLASSIFIERS = [None, chain({"subtype"}, {"strain_name", "genbank_id"})]


@pytest.mark.parametrize("lang,contents", [
    ("fasta", DOCS["fasta"][:3]),
    ("fasta", _ragged(DOCS["fasta"][:4])),
    ("tsv", DOCS["tsv"][:3]),
], ids=["fasta", "fasta-ragged", "tsv"])
def test_prep_options_grid(lang, contents):
    """levels x na_str x classifiers (`prep --levels/--na/--include/
    --exclude`) keep the batching invariant, and each option alone
    changes the output."""
    outs = {}
    for combo in itertools.product(range(2), repeat=3):
        outs[combo] = _assert_batch_invariant(
            lang, contents, levels=LEVELS[combo[0]], na_str=NA_STR[combo[1]],
            classifiers=CLASSIFIERS[combo[2]])
    for dim in range(3):
        one = tuple(int(d == dim) for d in range(3))
        assert outs[one] != outs[(0, 0, 0)], dim
