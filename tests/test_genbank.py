"""GenBank record ingestion parity (reference genbank.py:37-187)."""

import json

from octofludb_spark.extract.recipes import file_triples

FID = "https://flu-crew.org/id/"
FT = "https://flu-crew.org/term/"
WORLD = "https://flu-crew.org/geo/country/"
USA = "https://flu-crew.org/geo/country/usa/"

RECORD = {
    "GBSeq_primary-accession": "MN123456",
    "GBSeq_organism": "Influenza A virus",
    "GBSeq_locus": "MN123456",
    "GBSeq_length": "2280",
    "GBSeq_update-date": "05-JUN-2021",
    "GBSeq_create-date": "01-APR-2020",
    "GBSeq_definition": "Influenza A virus segment 1",
    "GBSeq_sequence": "gatacagataca",
    "GBSeq_feature-table": [
        {
            "GBFeature_key": "source",
            "GBFeature_location": "1..2280",
            "GBFeature_quals": [
                {"GBQualifier_name": "strain",
                 "GBQualifier_value": "A/swine/Iowa/A01234567/2020 (H1N1)"},
                {"GBQualifier_name": "host", "GBQualifier_value": "Sus scrofa"},
                {"GBQualifier_name": "country",
                 "GBQualifier_value": "USA: Iowa"},
                {"GBQualifier_name": "collection_date",
                 "GBQualifier_value": "2020-06-21"},
                {"GBQualifier_name": "serotype", "GBQualifier_value": "H1N1"},
            ],
        },
        {
            "GBFeature_key": "CDS",
            "GBFeature_quals": [
                {"GBQualifier_name": "gene", "GBQualifier_value": "PB2"},
                {"GBQualifier_name": "translation",
                 "GBQualifier_value": "MERIKEL"},
            ],
        },
    ],
}


def _trips(content):
    df = file_triples("genbank", content)
    return {(r.s, r.p, r.o, r.dt) for r in df.itertuples(index=False)}


def test_genbank_record():
    got = _trips(json.dumps(RECORD))
    gid = FID + "mn123456"
    sid = FID + "a%2Fswine%2Fiowa%2Fa01234567%2F2020"
    f0 = FID + "MN123456_feat_0"
    f1 = FID + "MN123456_feat_1"
    import hashlib
    md5 = hashlib.md5(b"GATACAGATACA").hexdigest()
    pro_md5 = hashlib.md5(b"MERIKEL").hexdigest()

    assert (gid, FT + "genbank_id", "MN123456", "") in got
    assert (gid, FT + "length", "2280", "xsd:integer") in got
    assert (gid, FT + "update_date", "2021-06-05", "xsd:date") in got
    assert (gid, FT + "dnaseq", "GATACAGATACA", "") in got
    assert (gid, FT + "chksum", md5, "") in got
    # feature sub-nodes: deterministic uid, case preserved
    assert (gid, FT + "has_feature", f0, "uri") in got
    assert (f0, FT + "name", "source", "") in got
    assert (f0, FT + "location", "1..2280", "") in got
    assert (f0, FT + "serotype", "H1N1", "") in got
    # gene qual: parsed segment on the RECORD + raw gene on the feature
    assert (gid, FT + "segment_name", "PB2", "") in got
    assert (f1, FT + "gene", "PB2", "") in got
    assert (f1, FT + "proseq", "MERIKEL", "") in got
    assert (f1, FT + "chksum", pro_md5, "") in got
    # strain linking
    assert (sid, FT + "has_segment", gid, "uri") in got
    assert (sid, FT + "strain_name", "A/swine/Iowa/A01234567/2020", "") in got
    assert (sid, FT + "host", "swine", "") in got
    assert (sid, FT + "date", "2020-06-21", "xsd:date") in got
    assert (sid, FT + "country", WORLD + "USA", "uri") in got
    assert (sid, FT + "state", USA + "IA", "uri") in got
    assert (sid, FT + "barcode", "A01234567", "") in got


def test_genbank_filters_non_influenza():
    rec = dict(RECORD, GBSeq_organism="Homo sapiens")
    assert not _trips(json.dumps(rec))


def test_genbank_unknown_country_fallback():
    rec = json.loads(json.dumps(RECORD))
    rec["GBSeq_feature-table"][0]["GBFeature_quals"][2][
        "GBQualifier_value"] = "Kosovo"
    got = _trips(json.dumps(rec))
    sid = FID + "a%2Fswine%2Fiowa%2Fa01234567%2F2020"
    curi = WORLD + "kosovo"
    assert (sid, FT + "country", curi, "uri") in got
    assert (curi, FT + "name", "Kosovo", "") in got


def test_genbank_fuzz_vs_reference():
    """The genbank recipe fuzz-compared against the reference's own
    make_gb_meta_triples (genbank.py:37-187) over synthetic Entrez
    records: influenza-A organism gate, per-record uid feature nodes,
    qualifier routing (strain parse fallback, country ':'-prefix
    strip, gene -> segment_name parse_strict, translation chksum),
    inferred-literal rendering, and the strain-link block (state /
    A0-barcode extraction for USA strains, unrecognized-country name
    triples)."""
    import contextlib
    import io
    import os
    import random
    import sys
    import warnings

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "refshim"))
    sys.path.insert(1, "/root/reference")
    warnings.filterwarnings("ignore")
    from octofludb.genbank import make_gb_meta_triples

    rng = random.Random(606)
    strains = ["A/swine/Iowa/A01234567/2020",
               "A/swine/Iowa/A01234567/2020 (H1N1)", "A/Texas/1/99",
               "weird strain", "A/x (y) [z]", ""]
    hosts = ["Sus scrofa", "swine", "Homo sapiens; gender M", ""]
    countries = ["USA: Iowa", "USA", "Viet Nam", "Kosovo",
                 "China: Hubei; Wuhan", ""]
    dates = ["21-Jun-2020", "2020-06-21", "Jun-2020", "2020", "junk", ""]
    genes = ["PB2", "HA", "4", "NS1", "junk", "M2"]
    orgs = ["Influenza A virus", "Influenza B virus", "Homo sapiens", ""]
    devnull = io.StringIO()
    compared = 0
    for i in range(400):
        acc = f"MN{i:06d}"
        rec = {"GBSeq_primary-accession": acc, "GBSeq_locus": acc}
        if rng.random() < 0.9:
            rec["GBSeq_organism"] = rng.choice(orgs)
        if rng.random() < 0.8:
            rec["GBSeq_length"] = str(rng.randrange(1, 3000))
        if rng.random() < 0.3:
            rec["GBSeq_update-date"] = rng.choice(dates)
        if rng.random() < 0.7:
            rec["GBSeq_sequence"] = rng.choice(["gatacagataca", "ATGG", ""])
        feats = []
        for _ in range(rng.randrange(3)):
            quals = []
            for _ in range(rng.randrange(5)):
                k = rng.choice(["strain", "host", "country",
                                "collection_date", "gene", "translation",
                                "serotype", "isolate", "note"])
                v = {"strain": rng.choice(strains),
                     "host": rng.choice(hosts),
                     "country": rng.choice(countries),
                     "collection_date": rng.choice(dates),
                     "gene": rng.choice(genes),
                     "translation": "MKVNLLLLAVSL", "serotype": "H1N1",
                     "isolate": "A01234567",
                     "note": rng.choice(["x", "42", "3.14", "true", ""])}[k]
                quals.append({"GBQualifier_name": k, "GBQualifier_value": v})
            feats.append({"GBFeature_key": rng.choice(["source", "gene",
                                                       "CDS"]),
                          "GBFeature_location": "1..100",
                          "GBFeature_quals": quals})
        rec["GBSeq_feature-table"] = feats
        with contextlib.redirect_stderr(devnull), \
                contextlib.redirect_stdout(devnull):
            ref, _err = make_gb_meta_triples(rec)
        ref = {(str(s), str(p), str(o)) for s, p, o in ref}
        got = {(r.s, r.p, r.o) for r in
               file_triples("genbank", json.dumps(rec))
               .itertuples(index=False)}
        assert got == ref, (rec, sorted(got ^ ref)[:6])
        compared += 1
    assert compared == 400
