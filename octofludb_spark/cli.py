"""Command-line interface mirroring the reference's surface
(reference: octofludb/ui.py subcommands), Spark-backed.

  prep <kind> <file> [--tag T]      file -> turtle on stdout
  build <store> --docs N | --source <parquet>   staged graph build
  merge <store> <kind> <file>      idempotent ingest into a store
  query <store> <name> [args]      run a shipped report query -> TSV
  fasta <store> <name>             report -> FASTA (last col = seq)
  delete <store> <kind>            delete-*.rq analogs
  bench                            one-line JSON benchmark

Usage: python -m octofludb_spark.cli <subcommand> ...
"""

from __future__ import annotations

import argparse
import sys
import time


def _spark(cores=None):
    from octofludb_spark.session import get_spark

    return get_spark(app="octofludb-spark-cli", cores=cores)


PREP_KINDS = ("fasta", "table", "gisaid", "ivr", "ird", "blast", "tag",
              "unpublished", "segtable", "genbank")
_KIND_TO_LANG = {"table": "tsv", "tag": "ids"}


def _csv_set(x):
    """--include/--exclude/--levels CSV options (reference
    process_tablelike, ui.py:788-809): '' and absent both mean
    empty/None."""
    if not x:
        return None
    return {s.strip() for s in x.split(",")}


def _source_doc(kind: str, raw: bytes) -> tuple[str, str]:
    """(lang, content) of a source file.  A binary GISAID sheet (OLE2
    or ZIP magic; `prep gis gisaid.xls`, reference ui.py:657) rides as
    base64 under lang gisaid_xls; text decodes leniently (never a
    UnicodeDecodeError)."""
    import base64

    lang = _KIND_TO_LANG.get(kind, kind)
    if lang == "gisaid" and (raw[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
                             or raw[:2] == b"PK"):
        return "gisaid_xls", base64.b64encode(raw).decode()
    return lang, raw.decode("utf-8", "replace")


def cmd_prep(args) -> int:
    import pandas as pd

    from octofludb_spark.extract.recipes import file_triples, tag_node_triples
    from octofludb_spark.functions.uri import make_tag_uri
    from octofludb_spark.plans.turtle import triples_to_turtle

    lang, content = _source_doc(args.kind, open(args.file, "rb").read())
    opts = {}
    if lang in ("fasta", "tsv"):
        # the tablelike knobs (reference prep fasta/table options,
        # ui.py:812-931): --include/--exclude prune the classifier
        # chain, --levels filters emitted fields, --na lists NA cells
        from octofludb_spark.extract.infer import chain

        inc, exc = _csv_set(args.include), _csv_set(args.exclude)
        na = tuple((args.na or "").split(",")) if args.na is not None else ()
        opts = dict(levels=_csv_set(args.levels), na_str=na,
                    classifiers=chain(inc, exc) if (inc or exc) else None)
    taguri = make_tag_uri(args.tag) if args.tag else None
    trips = file_triples(lang, content, taguri=taguri, **opts)
    if args.tag:
        trips = pd.concat(
            [trips, tag_node_triples(args.tag, args.file, args.run_ts)],
            ignore_index=True,
        )
    trips = trips.rename(columns={"s": "subject", "p": "predicate",
                                  "o": "object_lex", "dt": "object_dtype"})
    sys.stdout.write(triples_to_turtle(trips))
    return 0


def cmd_build(args) -> int:
    from octofludb_spark.build import build_graph, incremental_update
    from octofludb_spark.sources.synth import source_table

    spark = _spark(args.cores)
    if args.source:
        src = spark.read.parquet(args.source)
    else:
        src = source_table(spark, args.docs)
    if getattr(args, "incremental", False):
        # fold the batch into the existing store at O(batch + affected);
        # falls back to a full build when the store is unbuilt
        store = incremental_update(spark, src, args.store, tag=args.tag,
                                   run_ts=args.run_ts,
                                   batch_id=args.batch_id)
    else:
        store = build_graph(spark, src, args.store, tag=args.tag,
                            run_ts=args.run_ts)
    n = store.read(spark, "triples_canonical").count()
    print(f"built {args.store}: {n} canonical triples", file=sys.stderr)
    if getattr(args, "validate", False):
        # post-build quality gate: SHACL over the entailed graph.
        # Severity-split (ADVICE r4): warn-only shapes fire naturally
        # on healthy reference-shaped corpora (partial dates, merged
        # hub strains), so they are reported but only sh:Violation
        # rows fail the build — unless --strict-validate.
        from octofludb_spark.plans.validation import (shacl_validate,
                                                      violation_counts)

        triples = store.read(spark, "triples").select(
            "subject", "predicate", "object_lex", "object_dtype")
        n_hard, n_warn = violation_counts(shacl_validate(triples))
        print(f"validation: {n_hard} violation(s), "
              f"{n_warn} warning(s)", file=sys.stderr)
        if n_hard or (n_warn and getattr(args, "strict_validate",
                                         False)):
            return 3
    return 0


def cmd_merge(args) -> int:
    import hashlib

    import pandas as pd

    from octofludb_spark.extract.pipeline import run_extraction
    from octofludb_spark.sources.store import TripleStore

    spark = _spark(args.cores)
    lang, content = _source_doc(args.kind, open(args.file, "rb").read())
    row = pd.DataFrame([{
        "repo": "local", "path": args.file, "commit": "0" * 40,
        "lang": lang, "content": content,
        "content_sha256": hashlib.sha256(content.encode()).hexdigest(),
    }])
    triples, _ = run_extraction(spark.createDataFrame(row), tag=args.tag,
                                run_ts=args.run_ts)
    TripleStore(args.store).merge_triples(spark, triples)
    return 0


def _arity(name, a, n, usage, conv=str):
    if len(a) < n:
        print(f"query {name} needs {n} args: {usage}", file=sys.stderr)
        sys.exit(2)
    return [conv(x) for x in a[:n]]


def _queries():
    from pyspark.sql import functions as F

    from octofludb_spark.plans import reports as R

    return {
        "masterlist": lambda v, a: R.masterlist_report(v),
        "subtypes": lambda v, a: R.subtypes_report(v).withColumn(
            "isolates", F.concat_ws("+", F.sort_array("isolates"))),
        "constellations": lambda v, a: R.constellations(v),
        "segments": lambda v, a: R.segments_query(v),
        "unclassified": lambda v, a: R.unclassified_swine(v),
        "h1-swine": lambda v, a: R.h_swine_sequences(v, "H1"),
        "h3-swine": lambda v, a: R.h_swine_sequences(v, "H3"),
        "tagged": lambda v, a: R.tagged_strains(v),
        # the INTENDED get-tagged.rq (the shipped reference query is
        # broken — ?msgid typo / undefined "MS", get-tagged.rq:76-79)
        "tagged-max": lambda v, a: R.tagged_max_report(v),
        "wgs": lambda v, a: R.wgs_report(v, *_arity("wgs", a, 2, "YEAR MONTH", int)),
        "monthly-context": lambda v, a: R.monthly_context(
            v, *_arity("monthly-context", a, 2, "MIN_DATE MAX_DATE")),
        # report monthly (ui.py:1284-1318): YEAR MONTH -> wgs.rq; the
        # --context variant derives [year-1, year+1) around the month
        "monthly": lambda v, a: R.wgs_report(
            v, *_arity("monthly", a, 2, "YEAR MONTH", int)),
        "monthly-with-context": lambda v, a: (
            lambda y, m: R.monthly_context(
                v, f"{y - 1}-{m:02d}-01", f"{y + 1}-{m:02d}-01")
        )(*_arity("monthly-with-context", a, 2, "YEAR MONTH", int)),
        # report quarter (ui.py:1321-1333): currently the masterlist
        "quarter": lambda v, a: R.masterlist_report(v),
    }


QUERY_NAMES = ["masterlist", "subtypes", "constellations", "segments",
               "unclassified", "h1-swine", "h3-swine", "tagged",
               "tagged-max", "wgs", "monthly-context", "monthly",
               "monthly-with-context", "quarter"]


def _views(spark, store_root, sameas=True):
    from octofludb_spark.plans.views import GraphViews
    from octofludb_spark.sources.store import TripleStore

    store = TripleStore(store_root)
    table = "triples_canonical" if sameas else "triples"
    df = store.read(spark, table)
    if df is None:
        df = store.read(spark, "triples")
    if df is None:
        print(f"no triple store at {store_root} (run `build` first)",
              file=sys.stderr)
        sys.exit(1)
    return GraphViews(df)


def cmd_query(args) -> int:
    """`query <store> <name|file.rq> [args]` — a shipped named plan,
    or an arbitrary SPARQL file compiled to a DataFrame plan
    (reference ui.py:458-471 submits any .rq; plans/sparql.py).
    Positional args on a .rq substitute __MACRO__ placeholders in
    KEY=VALUE form."""
    import os

    from octofludb_spark.plans.formatting import as_fasta_text, as_table_text

    spark = _spark(args.cores)
    if args.name.endswith(".rq") or os.path.sep in args.name:
        from octofludb_spark.plans.sparql import sparql_to_df
        from octofludb_spark.sources.store import TripleStore

        store = TripleStore(args.store)
        macros = dict(a.split("=", 1) for a in args.args if "=" in a)
        raw = store.read(spark, "triples")
        if raw is None:
            print("empty store", file=sys.stderr)
            return 1
        canon = (None if args.no_sameas
                 else store.read(spark, "triples_canonical"))
        df = sparql_to_df(spark, open(args.name).read(), raw,
                          triples_canonical=canon, macros=macros)
    else:
        qs = _queries()
        if args.name not in qs:
            print(f"unknown query {args.name!r}; one of "
                  f"{', '.join(QUERY_NAMES)} or a .rq file path",
                  file=sys.stderr)
            return 2
        v = _views(spark, args.store, sameas=not args.no_sameas)
        df = qs[args.name](v, args.args)
    if args.explain:
        # plan audit surface: formatted physical plan (scan pushdowns,
        # exchanges, codegen spans) without executing the query
        df.explain(mode="formatted")
        return 0
    if args.fasta:
        print(as_fasta_text(df))
    else:
        print(as_table_text(df))
    return 0


def cmd_pull(args) -> int:
    """The reference's `octofludb pull` DAG (ui.py:330-433): build the
    graph from the source table (schema/geography + extraction + link
    + canonicalize), then the enrichment rounds (classification,
    constellations, subtypes), each stage committed to the manifest so
    a killed pull resumes."""
    from octofludb_spark.build import build_graph
    from octofludb_spark.plans.enrich import (
        enrich_classifications,
        enrich_constellations,
        enrich_subtypes,
    )
    from octofludb_spark.sources.synth import source_table

    spark = _spark(args.cores)
    if args.source:
        src = spark.read.parquet(args.source)
    else:
        src = source_table(spark, args.docs)
    store = build_graph(spark, src, args.store, run_ts=args.run_ts)
    if not args.no_classify:
        n1 = enrich_classifications(spark, store)
        print(f"classified: {n1} triples", file=sys.stderr)
    n2 = enrich_constellations(spark, store)
    n3 = enrich_subtypes(spark, store)
    total = store.read(spark, "triples").count()
    print(f"pull complete: +{n2} constellation triples, +{n3} subtype "
          f"triples, {total} total", file=sys.stderr)
    return 0


def cmd_fetch(args) -> int:
    """The reference's `fetch` group (ui.py:1099-1216): `tag` pushes a
    query-tag over an id list, isolate/strain/segment emit the tagged
    TSV reports, `sequence` emits FASTA, `clear` drops every
    query-tag triple."""
    from octofludb_spark.plans import maintenance as M
    from octofludb_spark.plans import reports as R
    from octofludb_spark.plans.formatting import as_fasta_text, as_table_text
    from octofludb_spark.sources.store import TripleStore

    spark = _spark(args.cores)
    if args.what == "tag":
        if not args.file:
            print("fetch tag needs an id-list FILE", file=sys.stderr)
            return 2
        ids = [ln.strip() for ln in open(args.file) if ln.strip()]
        TripleStore(args.store).merge_triples(
            spark, M.query_tag_triples(spark, ids))
        print(f"tagged {len(ids)} identifiers", file=sys.stderr)
        return 0
    if args.what == "clear":
        M.clear_query_tags(spark, TripleStore(args.store))
        return 0
    v = _views(spark, args.store)
    if args.what == "sequence":
        print(as_fasta_text(R.tagged_sequences(v)))
    else:
        fn = {"isolate": R.tagged_isolates, "strain": R.tagged_strains,
              "segment": R.tagged_segments}[args.what]
        print(as_table_text(fn(v)))
    return 0


def cmd_delete(args) -> int:
    from octofludb_spark.plans import maintenance as M
    from octofludb_spark.sources.store import TripleStore

    spark = _spark(args.cores)
    store = TripleStore(args.store)
    if args.kind == "motifs":
        M.delete_motifs(spark, store)
    elif args.kind == "query-tags":
        M.clear_query_tags(spark, store)
    else:
        M.delete_predicate(spark, store, args.kind)
    return 0


def cmd_construct(args) -> int:
    """Reference `construct` (ui.py:517-535): run a SPARQL CONSTRUCT
    file and print the produced triples as turtle."""
    from octofludb_spark.plans.sparql import (
        compile_construct,
        parse_sparql_construct,
    )
    from octofludb_spark.plans.turtle import triples_to_turtle
    from octofludb_spark.sources.store import TripleStore

    spark = _spark(args.cores)
    macros = dict(a.split("=", 1) for a in args.args if "=" in a)
    raw = TripleStore(args.store).read(spark, "triples")
    if raw is None:
        print("empty store", file=sys.stderr)
        return 1
    ast = parse_sparql_construct(open(args.file).read(), macros=macros)
    out = compile_construct(ast, raw).toPandas()
    sys.stdout.write(triples_to_turtle(out))
    return 0


def cmd_update(args) -> int:
    """Reference `update` (ui.py:538-552): run a SPARQL DELETE/WHERE
    file against the store (the named delete ops remain under
    `delete`; this runs arbitrary .rq update files)."""
    from octofludb_spark.plans.sparql import sparql_update
    from octofludb_spark.sources.store import TripleStore

    spark = _spark(args.cores)
    macros = dict(a.split("=", 1) for a in args.args if "=" in a)
    n = sparql_update(spark, TripleStore(args.store),
                      open(args.file).read(), macros=macros)
    print(f"deleted {n} triples", file=sys.stderr)
    return 0


def cmd_init(args) -> int:
    """Reference `init` (ui.py:120-160): create an empty database.
    Here: the store root plus a committed empty manifest, so every
    later build/merge/upload appends to the commit log."""
    from octofludb_spark.sources.store import TripleStore

    m = TripleStore(args.store).init()
    print(f"initialized {args.store} at seq {m['seq']}", file=sys.stderr)
    return 0


def cmd_upload(args) -> int:
    """Reference `upload` (ui.py:555-580): load one or more turtle
    files into the db.  Each file parses in its own executor task;
    the merge is idempotent (re-uploading adds nothing)."""
    from octofludb_spark.plans.turtle import read_turtle
    from octofludb_spark.sources.store import TripleStore

    spark = _spark(args.cores)
    store = TripleStore(args.store)
    store.merge_triples(spark, read_turtle(spark, args.files))
    n = store.read(spark, "triples").count()
    print(f"uploaded {len(args.files)} file(s); {n} triples total",
          file=sys.stderr)
    return 0


def cmd_classify(args) -> int:
    """Reference `classify` (ui.py:473-516): run octoFLU over a fasta
    file and print the 4-column classification table.  Needs an
    octoFLU checkout (--octoflu-dir); the checkout's configured
    reference set is used."""
    import subprocess

    from octofludb_spark.sources.external import (
        parse_octoflu_output,
        subprocess_octoflu_runner,
    )

    runner = subprocess_octoflu_runner(args.octoflu_dir)
    try:
        table = runner(args.file)
    except (OSError, subprocess.CalledProcessError) as e:
        print(f"octoFLU run failed: {e}", file=sys.stderr)
        return 1
    pdf = parse_octoflu_output(table)
    print("seqid\tsegment_subtype\tclade\tgl_clade")
    for row in pdf.itertuples(index=False):
        print("\t".join(str(v) for v in row))
    return 0


def cmd_report(args) -> int:
    """Materialized-report maintenance (plans/incremental_reports.py):
    `report materialize <store>` full-computes the masterlist into the
    store; `report refresh <store>` folds triple changes since the
    base snapshot in at O(changes + affected barcodes); `report show
    <store>` prints the materialized table.  The reference recomputes
    per query (ui.py:1276-1334) — this is the 100 TB path."""
    from octofludb_spark.plans.incremental_reports import (
        MASTERLIST_TABLE,
        masterlist_materialize,
        masterlist_refresh,
    )
    from octofludb_spark.sources.store import TripleStore

    store = TripleStore(args.store)
    spark = _spark(args.cores)
    table = "triples" if args.no_sameas else "triples_canonical"
    if args.op == "materialize":
        n = masterlist_materialize(spark, store, table=table)
        print(f"materialized {MASTERLIST_TABLE}: {n} rows", file=sys.stderr)
        return 0
    if args.op == "refresh":
        res = masterlist_refresh(spark, store, table=table)
        print(f"refresh mode={res['mode']} "
              f"affected_barcodes={res['affected_barcodes']} "
              f"rows_appended={res['rows_appended']}", file=sys.stderr)
        return 0
    from octofludb_spark.plans.formatting import as_table_text

    df = store.read(spark, MASTERLIST_TABLE)
    if df is None:
        print(f"no materialized report (run `report materialize` first)",
              file=sys.stderr)
        return 1
    print(as_table_text(df.drop("part_bucket")))
    return 0


def cmd_validate(args) -> int:
    """KG quality gate (plans/validation.py): run the SHACL-lite
    shape set over the store's triples under RDFS entailment and
    print the violation report; `--materialize-entailment` also
    writes the entailed graph into the store as `triples_entailed`
    (the table a reasoner-free SPARQL endpoint would serve).  The
    reference delegates both jobs to GraphDB; here they are explicit
    DataFrame plans."""
    from octofludb_spark.plans.formatting import as_table_text
    from octofludb_spark.plans.validation import rdfs_entail, shacl_validate
    from octofludb_spark.sources.store import TripleStore

    store = TripleStore(args.store)
    spark = _spark(args.cores)
    table = "triples" if args.no_sameas else "triples_canonical"
    triples = store.read(spark, table)
    if triples is None:
        table = "triples"
        triples = store.read(spark, table)
    if triples is None:
        print("store has no triples table", file=sys.stderr)
        return 1
    triples = triples.select("subject", "predicate", "object_lex",
                             "object_dtype")
    if args.refresh_entailment:
        from octofludb_spark.plans.validation import entailment_refresh

        res = entailment_refresh(spark, store, table=table)
        print(f"entailment refresh: {res['mode']} "
              f"(+{res['rows_appended']} rows)", file=sys.stderr)
    ent = rdfs_entail(triples)
    if args.materialize_entailment:
        from octofludb_spark.plans.validation import (
            entailment_materialize)

        n = entailment_materialize(spark, store, table=table)
        print(f"materialized triples_entailed ({n} rows)",
              file=sys.stderr)
    report = shacl_validate(triples, entailed=ent)
    print(as_table_text(report))
    from octofludb_spark.plans.validation import violation_counts

    n_hard, n_warn = violation_counts(report)
    print(f"{n_hard} violation(s), {n_warn} warning(s)",
          file=sys.stderr)
    # warn-only shapes (partial dates, merged hub strains) fire on
    # healthy corpora: reported above, fatal only under --strict
    return 3 if n_hard or (n_warn and args.strict) else 0


_SCALE_OPS = ("dedup-exact", "dedup-clusters", "dedup-spans", "jaccard",
              "clean", "quality", "lang-id", "tfidf", "sample", "chunks",
              "pii-scrub", "profile", "survivors", "containment",
              "winnow", "winnow-pairs", "bigram-lm", "split",
              "top-quality", "quality-sample", "c4", "gopher",
              "ppl-buckets", "dedup-paragraphs", "url-dedup", "pq",
              "cdc-chunks", "cdc-dedup", "inverted-index",
              "kmv", "hll", "cms", "dd-quantiles", "funnel", "retention",
              "attribution", "skew", "cooccurrence", "centroids",
              "bpe-train", "bpe-tokens", "pack",
              "mp4-info", "mp4-samples", "audio-features", "image-dhash",
              "dhash-neardup", "shard-shuffle", "mix-epochs", "kmeans",
              "avi-frames", "warc-records", "warc-responses", "warc-text",
              "warc-text-tolerant", "warc-rejects",
              "warc-linkgraph", "robots-rules", "frontier", "politeness",
              "anchor-text", "url-normalize", "wet", "wet-files",
              "cdx", "cdx-shards", "sitemap-urls", "sitemap-seed",
              "blocklist", "host-rep", "naive-bayes", "walks",
              "skipgrams", "fim", "license", "secrets", "redact",
              "strip-comments", "dsir", "hard-negatives",
              "span-corrupt", "image-augment", "audio-augment",
              "zorder", "code-kg", "code-kg-rank", "transe-neg",
              "code-kg-diff", "node2vec", "unigram-train",
              "unigram-encode", "code-calls")


def cmd_scale(args) -> int:
    """Training-data pipeline operators over a parquet input (most
    ops: documents (doc_id, text[, lang, ...]); warc-*/cdx/host-rep:
    crawl media; walks: edges; image/audio ops: media payloads):
    dedup, quality, language-ID, sampling, chunking, tokenizer,
    packing, web-crawl, code-prep, code-KG construction (code-kg /
    code-kg-rank / transe-neg), curation (naive-bayes/dsir/
    blocklist), augmentation, and layout clustering — the scale/
    suite as a tool.  Writes parquet with --out, else prints a TSV
    head."""
    from pyspark.sql import functions as F  # noqa: F401 (event ops)

    from octofludb_spark.scale import dedup as D
    from octofludb_spark.scale import text as TX

    spark = _spark(getattr(args, "cores", None))
    docs = spark.read.parquet(args.input)
    if args.op == "dedup-exact":
        out = D.exact_dedup(docs)
    elif args.op == "dedup-clusters":
        out = D.near_dedup_clusters(docs, threshold=args.threshold)
    elif args.op == "dedup-spans":
        out = D.duplicate_spans(docs, k=args.k)
    elif args.op == "jaccard":
        out = D.jaccard_pairs_prefix(docs, threshold=args.threshold)
    elif args.op == "clean":
        out = TX.clean_corpus(docs)
    elif args.op == "quality":
        out = TX.quality_scores(docs)
    elif args.op == "lang-id":
        out = TX.lang_id_hashed(docs)
    elif args.op == "tfidf":
        out = TX.tfidf_top_terms(docs, k=args.k)
    elif args.op == "sample":
        out = TX.temperature_sample(docs, key=args.key,
                                    alpha=args.alpha,
                                    target_frac=args.frac)
    elif args.op == "chunks":
        out = TX.chunk_documents(docs)
    elif args.op == "pii-scrub":
        out = TX.pii_scrub(docs)
    elif args.op == "profile":
        out = TX.corpus_profile(docs)
    elif args.op == "survivors":
        out = D.dedup_survivors(docs, threshold=args.threshold)
    elif args.op == "containment":
        out = D.containment_pairs(docs, threshold=args.threshold)
    elif args.op == "winnow":
        out = D.winnow_fingerprints(docs)
    elif args.op == "winnow-pairs":
        out = D.winnow_pairs(docs)
    elif args.op == "bigram-lm":
        out = TX.bigram_logprob(docs)
    elif args.op == "split":
        out = TX.split_corpus(docs)
    elif args.op == "top-quality":
        out = TX.top_quality_per_group(docs, key=args.key, n=args.k)
    elif args.op == "quality-sample":
        out = TX.quality_weighted_sample(docs)
    elif args.op == "c4":
        out = TX.c4_clean(docs)
    elif args.op == "gopher":
        out = TX.gopher_quality(docs)
    elif args.op == "ppl-buckets":
        out = TX.perplexity_buckets(docs)
    elif args.op == "dedup-paragraphs":
        out = D.paragraph_dedup(docs)
    elif args.op == "url-dedup":
        out = TX.url_dedup(docs)  # expects a 'url' column
    elif args.op == "pq":
        # expects an embeddings parquet (vec_id, embedding)
        from octofludb_spark.scale.simsearch import pq_quantize
        out = pq_quantize(docs)
    elif args.op == "cdc-chunks":
        out = TX.cdc_chunks(docs)
    elif args.op == "cdc-dedup":
        out = TX.cdc_duplicate_chunks(docs)
    elif args.op == "inverted-index":
        out = TX.inverted_index(docs, max_postings=args.k, min_df=2)
    elif args.op == "kmv":
        from octofludb_spark.scale.sketches import kmv_distinct
        out = kmv_distinct(docs, key=args.key)
    elif args.op == "hll":
        from octofludb_spark.scale.sketches import hll_distinct
        out = hll_distinct(docs, key=args.key)
    elif args.op == "cms":
        from octofludb_spark.scale.sketches import heavy_hitters_cms
        out = heavy_hitters_cms(docs, key=args.key, top=args.k)
    elif args.op == "dd-quantiles":
        from octofludb_spark.scale.sketches import dd_quantiles
        out = dd_quantiles(docs, key=args.key)
    elif args.op == "funnel":
        # expects an events parquet (user_id, ts, event_type)
        from octofludb_spark.ops.events import funnel
        out = funnel(docs, args.stages.split(","))
    elif args.op == "retention":
        from octofludb_spark.ops.events import retention_cohorts
        out = retention_cohorts(docs)
    elif args.op == "skew":
        from octofludb_spark.ops.skew import skew_report
        out = skew_report(docs, args.key, args.skew_key)
    elif args.op == "cooccurrence":
        # expects an events parquet (user_id, ts, event_type)
        from octofludb_spark.ops.events import cooccurrence_lift
        out = cooccurrence_lift(docs)
    elif args.op == "centroids":
        # expects an embeddings parquet (vec_id, embedding, label)
        from octofludb_spark.scale.simsearch import embedding_centroids
        out = embedding_centroids(docs)
    elif args.op == "pack":
        out = TX.pack_sequences(docs, context_len=args.k or 2048)
    elif args.op == "bpe-train":
        from octofludb_spark.scale.bpe import bpe_train, merges_df
        out = merges_df(spark, bpe_train(docs, n_merges=args.k))
    elif args.op == "bpe-tokens":
        from octofludb_spark.scale.bpe import bpe_doc_token_counts, bpe_train
        out = bpe_doc_token_counts(docs, bpe_train(docs, n_merges=args.k))
    elif args.op == "shard-shuffle":
        out = TX.shard_shuffle(docs, n_shards=args.k, seed=0)
    elif args.op == "mix-epochs":
        weights = {kv.split(":")[0]: int(kv.split(":")[1])
                   for kv in args.weights.split(",")}
        out = TX.mix_epochs(docs, weights, key=args.key)
    elif args.op == "mp4-info":
        # expects a media parquet (media_id, payload)
        from octofludb_spark.scale.multimodal import decode_mp4_media
        out = decode_mp4_media(docs)
    elif args.op == "mp4-samples":
        from octofludb_spark.scale.multimodal import sample_mp4
        out = sample_mp4(docs)
    elif args.op == "audio-features":
        from octofludb_spark.scale.multimodal import audio_features
        out = audio_features(docs)
    elif args.op == "image-dhash":
        from octofludb_spark.scale.multimodal import image_dhash
        out = image_dhash(docs)
    elif args.op == "kmeans":
        from octofludb_spark.scale.simsearch import kmeans_lloyd
        out = kmeans_lloyd(docs, k=args.k, iters=args.iters)["assign"]
    elif args.op == "avi-frames":
        from octofludb_spark.scale.multimodal import avi_frame_color_sums
        out = avi_frame_color_sums(docs, stride=args.stride)
    elif args.op == "dhash-neardup":
        from octofludb_spark.scale.multimodal import (dhash_near_pairs,
                                                      image_dhash)
        out = dhash_near_pairs(image_dhash(docs),
                               max_hamming=args.hamming)
    elif args.op == "warc-records":
        # expects a media parquet (media_id, payload: .warc or .warc.gz)
        from octofludb_spark.scale.web import warc_records
        out = warc_records(docs, compressed=args.gz)
    elif args.op == "warc-responses":
        from octofludb_spark.scale.web import http_responses
        out = http_responses(docs, compressed=args.gz).drop("body")
    elif args.op == "warc-text":
        from octofludb_spark.scale.web import warc_html_pipeline
        out = warc_html_pipeline(docs, compressed=args.gz)
    elif args.op == "warc-text-tolerant":
        # skip-and-count parsing: survives malformed archives, pages
        # from the good records; pair with `warc-rejects` for audit
        from octofludb_spark.scale.web import warc_html_pipeline
        out = warc_html_pipeline(docs, tolerant=True)
    elif args.op == "warc-rejects":
        # per-archive reject telemetry of the tolerant walkers
        from octofludb_spark.scale.web import warc_malformed_stats
        out = warc_malformed_stats(docs)
    elif args.op == "unigram-train":
        from octofludb_spark.scale.unigram import unigram_train
        out = unigram_train(docs)
    elif args.op == "unigram-encode":
        from octofludb_spark.scale.unigram import (unigram_encode_stats,
                                                   unigram_train)
        out = unigram_encode_stats(docs, unigram_train(docs))
    elif args.op == "code-calls":
        # expects the source-repo table (repo, path, lang, content)
        from octofludb_spark.scale.code import call_graph, code_kg_triples
        out = call_graph(code_kg_triples(docs, calls=True))
    elif args.op == "warc-linkgraph":
        from octofludb_spark.scale.web import host_link_graph, http_responses
        out = host_link_graph(http_responses(docs, compressed=args.gz))
    elif args.op == "robots-rules":
        # expects a robots-fetch media parquet (media_id, payload)
        from octofludb_spark.scale.web import http_responses, robots_rules
        out = robots_rules(http_responses(docs, compressed=args.gz))
    elif args.op in ("frontier", "politeness"):
        # input: crawl media parquet; --robots: robots media parquet
        from octofludb_spark.scale.web import (crawl_frontier_filter,
                                               http_responses,
                                               politeness_schedule,
                                               robots_rules)
        if not args.robots:
            raise SystemExit(f"scale {args.op} needs --robots "
                             "(robots-fetch media parquet)")
        pages = (http_responses(docs, compressed=args.gz)
                 .select("media_id", "page", "target_uri"))
        rules = robots_rules(http_responses(
            spark.read.parquet(args.robots), compressed=args.gz))
        if args.op == "frontier":
            out = crawl_frontier_filter(pages, rules).select(
                "media_id", "page", "host", "path")
        else:
            out = politeness_schedule(pages, rules)
    elif args.op == "anchor-text":
        from octofludb_spark.scale.web import anchor_text, http_responses
        out = anchor_text(http_responses(docs, compressed=args.gz))
    elif args.op == "url-normalize":
        from octofludb_spark.scale.web import url_normalize
        out = url_normalize(docs, url_col=args.url_col)
    elif args.op == "wet":
        from octofludb_spark.scale.web import warc_html_pipeline, wet_records
        out = wet_records(warc_html_pipeline(docs, compressed=args.gz))
    elif args.op == "wet-files":
        from octofludb_spark.scale.web import warc_html_pipeline, wet_files
        out = wet_files(warc_html_pipeline(docs, compressed=args.gz))
    elif args.op == "blocklist":
        # input: pages parquet with --url-col; --blocklist: parquet
        # with a `domain` column (UT1-style registrable domains)
        from octofludb_spark.scale.web import blocklist_filter
        if not args.blocklist:
            raise SystemExit("scale blocklist needs --blocklist "
                             "(parquet with a domain column)")
        out = blocklist_filter(docs,
                               spark.read.parquet(args.blocklist),
                               url_col=args.url_col,
                               annotate=args.annotate)
    elif args.op == "host-rep":
        # input: crawl media parquet; quality from the extracted text
        from octofludb_spark.scale.text import quality_scores
        from octofludb_spark.scale.web import (HOST_RE, host_link_graph,
                                               host_reputation,
                                               http_responses,
                                               warc_html_pipeline)
        resp = http_responses(docs, compressed=args.gz)
        pages = warc_html_pipeline(docs, compressed=args.gz).select(
            (F.col("media_id") * 8 + F.col("page")).alias("doc_id"),
            F.col("text_clean").alias("text"))
        host = resp.select(
            (F.col("media_id") * 8 + F.col("page")).alias("doc_id"),
            F.regexp_extract("target_uri", HOST_RE, 1).alias("host"))
        pq = (quality_scores(pages)
              .select("doc_id", F.floor(F.col("quality") * 1_000_000
                                        + F.lit(0.5)).cast("long")
                      .alias("quality_micro"))
              .join(host, "doc_id"))
        out = host_reputation(pq, host_link_graph(resp))
    elif args.op == "naive-bayes":
        from octofludb_spark.scale.text import naive_bayes_classify
        out = naive_bayes_classify(docs, label_col=args.key,
                                   vocab_k=args.vocab_k)
    elif args.op == "walks":
        # input: edges parquet (src, dst)
        from octofludb_spark.ops.graph_analytics import random_walks
        out = random_walks(docs, walk_len=args.k, seed=args.seed)
    elif args.op == "node2vec":
        # input: edges parquet (src, dst); second-order biased walks
        from octofludb_spark.ops.graph_analytics import node2vec_walks
        out = node2vec_walks(docs, walk_len=args.k, seed=args.seed)
    elif args.op == "skipgrams":
        # input: walks parquet (walk_id, start, path)
        from octofludb_spark.ops.graph_analytics import walk_skipgrams
        out = walk_skipgrams(docs, window=args.window)
    elif args.op == "fim":
        from octofludb_spark.scale.code import fim_transform
        out = fim_transform(docs, rate_pct=int(args.frac * 100),
                            seed=args.seed, text_col=args.text_col)
    elif args.op == "license":
        from octofludb_spark.scale.code import license_detect
        out = license_detect(docs, text_col=args.text_col)
    elif args.op == "secrets":
        from octofludb_spark.scale.code import secret_scan
        out = secret_scan(docs, text_col=args.text_col)
    elif args.op == "redact":
        from octofludb_spark.scale.code import secret_redact
        out = secret_redact(docs, text_col=args.text_col)
    elif args.op == "strip-comments":
        from octofludb_spark.scale.code import strip_comments
        out = strip_comments(docs, lang=args.lang_family,
                             text_col=args.text_col)
    elif args.op == "dsir":
        # --target: in-domain exemplar parquet (doc_id, text)
        from octofludb_spark.scale.text import dsir_scores, dsir_select
        if not args.target:
            raise SystemExit("scale dsir needs --target "
                             "(domain exemplar parquet)")
        tgt = spark.read.parquet(args.target)
        out = (dsir_select(docs, tgt, n=args.limit)
               if args.out is None else dsir_scores(docs, tgt))
    elif args.op == "hard-negatives":
        # input: embeddings parquet; --target: query-vector parquet
        from octofludb_spark.scale.simsearch import hard_negatives
        if not args.target:
            raise SystemExit("scale hard-negatives needs --target "
                             "(query embeddings parquet)")
        out = hard_negatives(docs, spark.read.parquet(args.target),
                             k=args.k, dup_threshold=args.threshold)
    elif args.op == "span-corrupt":
        out = TX.span_corruption(docs, seed=args.seed)
    elif args.op == "image-augment":
        # input: media parquet (media_id, payload[, media_type])
        from octofludb_spark.scale.multimodal import augment_images
        out = augment_images(docs, seed=args.seed)
    elif args.op == "audio-augment":
        from octofludb_spark.scale.multimodal import augment_audio
        out = augment_audio(docs, seed=args.seed)
    elif args.op == "zorder":
        # --key: comma list of integer columns to cluster by
        from octofludb_spark.ops.layout import zorder_cluster
        out = zorder_cluster(docs, args.key.split(","), bits=8)
    elif args.op == "code-kg":
        # input: source-repo parquet (repo, path, lang, content)
        from octofludb_spark.scale.code import code_kg_triples
        out = code_kg_triples(docs)
    elif args.op == "code-kg-rank":
        # input: source-repo parquet -> canonical module import graph
        # -> integer-micro PageRank
        from octofludb_spark.ops.canonicalize import canonicalize
        from octofludb_spark.ops.graph_analytics import pagerank
        from octofludb_spark.scale.code import (code_kg_triples,
                                                import_module_edges,
                                                module_alias_map)
        tr = code_kg_triples(docs)
        can = canonicalize(tr, module_alias_map(tr))
        out = pagerank(import_module_edges(can), iters=args.k)
    elif args.op == "transe-neg":
        # input: triples parquet (subject, predicate, object_lex,
        # object_dtype) -> one corrupted negative per URI triple
        from octofludb_spark.ops.graph_analytics import transe_negatives
        out = transe_negatives(docs, seed=args.seed)
    elif args.op == "code-kg-diff":
        # input: OLD-snapshot triples parquet; --target: NEW snapshot
        from octofludb_spark.scale.code import kg_snapshot_diff
        if not args.target:
            raise SystemExit("scale code-kg-diff needs --target "
                             "(new-snapshot triples parquet)")
        out = kg_snapshot_diff(docs, spark.read.parquet(args.target))
    elif args.op == "cdx":
        from octofludb_spark.scale.web import cdx_index
        out = cdx_index(docs, compressed=args.gz)
    elif args.op == "cdx-shards":
        from octofludb_spark.scale.web import (cdx_index, cdx_shards,
                                               cdx_secondary_index)
        out = cdx_secondary_index(
            cdx_shards(cdx_index(docs, compressed=args.gz)))
    elif args.op == "sitemap-urls":
        # input: a parquet of (host_id?, sitemap_xml) documents
        from octofludb_spark.scale.web import sitemap_urls
        out = sitemap_urls(docs)
    elif args.op == "sitemap-seed":
        # input: sitemap parquet; --robots reused as the crawled
        # media parquet (media_id, payload) for the anti-join side
        from octofludb_spark.scale.web import (frontier_seed,
                                               http_responses,
                                               sitemap_urls)
        if not args.robots:
            raise SystemExit("scale sitemap-seed needs --robots "
                             "(crawled WARC media parquet)")
        out = frontier_seed(
            sitemap_urls(docs),
            http_responses(spark.read.parquet(args.robots),
                           compressed=args.gz))
    elif args.op == "attribution":
        from octofludb_spark.streaming.pipeline import click_attribution
        st = args.stages.split(",")
        out = click_attribution(
            docs.where(F.col("event_type") == st[0]),
            docs.where(F.col("event_type") == st[-1]))
    else:  # pragma: no cover - argparse choices guard
        raise SystemExit(f"unknown scale op {args.op}")
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(f"{out.count()} rows -> {args.out}")
        return 0
    cols = out.columns
    print("\t".join(cols))
    for row in out.limit(args.limit).collect():
        print("\t".join("" if row[c] is None else str(row[c])
                        for c in cols))
    return 0


def cmd_store(args) -> int:
    """Store maintenance: compact small files, vacuum dead snapshots,
    inspect the commit log, expire old snapshot versions, read the
    rows appended since a seq, or a bucket-pruned point lookup (ops
    surface for a big store)."""
    from octofludb_spark.sources.store import TripleStore

    store = TripleStore(args.store)
    if args.op == "vacuum":
        store.vacuum()
        return 0
    if args.op == "history":
        for row in store.history():
            print("\t".join([
                str(row["seq"]),
                time.strftime("%Y-%m-%dT%H:%M:%SZ",
                              time.gmtime(row["committed_at"] or 0)),
                ",".join(row["committed_stages"]) or "-",
                ",".join(row["tables"]) or "-",
            ]))
        return 0
    if args.op == "expire":
        for seq in store.expire_snapshots(keep_last=args.keep_last):
            print(f"expired seq {seq}")
        return 0
    if args.op == "stats":
        # footer-only scan: row counts come from parquet metadata, no
        # Spark session and no data read — usable on a huge store
        import glob as _glob
        import os

        import pyarrow.parquet as _pq

        m = store.manifest()
        # physical_rows is the pre-merge footer count; delete_rows is
        # the pending equality-delete key count (each key may match
        # multiple physical rows, so live counts are only exact via
        # `query` or after `compact`)
        print("table\tphysical_rows\tdelete_rows\tfiles\tbytes"
              "\tsegments\tpending_deletes")
        for table in sorted(m.get("tables", {})):
            paths = [m["tables"][table]]
            segs = m.get("segments", {}).get(table, [])
            dels = m.get("deletes", {}).get(table, [])
            paths += list(segs)
            rows = files = size = 0
            for p in paths:
                for f in _glob.glob(os.path.join(p, "**", "*.parquet"),
                                    recursive=True):
                    rows += _pq.ParquetFile(f).metadata.num_rows
                    files += 1
                    size += os.path.getsize(f)
            del_rows = 0
            for d in dels:
                for f in _glob.glob(os.path.join(d["path"], "**",
                                                 "*.parquet"),
                                    recursive=True):
                    del_rows += _pq.ParquetFile(f).metadata.num_rows
            print(f"{table}\t{rows}\t{del_rows}\t{files}\t{size}"
                  f"\t{len(segs)}\t{len(dels)}")
        return 0
    if args.op == "lookup" and not args.subject:
        print("store lookup requires --subject <IRI>")
        return 2
    spark = _spark(args.cores)
    if args.op == "changes":
        df = store.read_changes(spark, table=args.table, since=args.since)
        if df is None:
            return 0
        for r in df.collect():
            print("\t".join("" if v is None else str(v)
                            for v in (r.subject, r.predicate, r.object_lex,
                                      r.object_dtype)))
        return 0
    if args.op == "compact":
        store.compact(spark, table=args.table)
        return 0
    if args.op == "sketches":
        # materialize or O(changes)-refresh the HLL/CMS sketch tables
        from octofludb_spark.plans.incremental_sketches import sketch_refresh

        res = sketch_refresh(spark, store, table=args.table)
        print("\t".join(f"{k}={v}" for k, v in res.items()))
        return 0
    df = store.read_subject(spark, args.subject, table=args.table)
    if df is None:
        print("no such table", args.table)
        return 1
    for r in df.collect():
        print("\t".join("" if v is None else str(v)
                        for v in (r.subject, r.predicate, r.object_lex,
                                  r.object_dtype)))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="octofludb-spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("prep")
    sp.add_argument("kind", choices=PREP_KINDS)
    sp.add_argument("file")
    sp.add_argument("--tag")
    sp.add_argument("--run-ts", dest="run_ts", default=None)
    sp.add_argument("--include", default=None,
                    help="only parse with these tokens (CSV)")
    sp.add_argument("--exclude", default=None,
                    help="remove these tokens (CSV)")
    sp.add_argument("--levels", default=None,
                    help="emit only these fields (CSV)")
    sp.add_argument("--na", default=None,
                    help="strings representing missing values (CSV)")
    sp.set_defaults(fn=cmd_prep)

    sb = sub.add_parser("build")
    sb.add_argument("store")
    sb.add_argument("--docs", type=int, default=1000)
    sb.add_argument("--source")
    sb.add_argument("--tag")
    sb.add_argument("--run-ts", dest="run_ts", default=None)
    sb.add_argument("--incremental", action="store_true",
                    help="fold the batch into an existing store "
                         "(O(batch + affected); resumable per --batch-id)")
    sb.add_argument("--batch-id", dest="batch_id", default=None)
    sb.add_argument("--validate", action="store_true",
                    help="run the SHACL quality gate after the build "
                         "(exit 3 on sh:Violation rows; warn-only "
                         "shapes are reported, not fatal)")
    sb.add_argument("--strict-validate", dest="strict_validate",
                    action="store_true",
                    help="escalate warn-only shapes to build failures")
    sb.set_defaults(fn=cmd_build)

    sm = sub.add_parser("merge")
    sm.add_argument("store")
    sm.add_argument("kind", choices=PREP_KINDS)
    sm.add_argument("file")
    sm.add_argument("--tag")
    sm.add_argument("--run-ts", dest="run_ts", default=None)
    sm.set_defaults(fn=cmd_merge)

    sq = sub.add_parser("query")
    sq.add_argument("store")
    sq.add_argument("name", metavar="name|file.rq",
                    help=f"one of {', '.join(QUERY_NAMES)} or a SPARQL "
                         "file path")
    sq.add_argument("args", nargs="*")
    sq.add_argument("--fasta", action="store_true")
    sq.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan instead "
                         "of executing")
    sq.add_argument("--no-sameas", action="store_true",
                    help="FROM onto:disable-sameAs analog")
    sq.set_defaults(fn=cmd_query)

    spl = sub.add_parser("pull")
    spl.add_argument("store")
    spl.add_argument("--docs", type=int, default=1000)
    spl.add_argument("--source")
    spl.add_argument("--run-ts", dest="run_ts", default=None)
    spl.add_argument("--no-classify", action="store_true")
    spl.set_defaults(fn=cmd_pull)

    sf = sub.add_parser("fetch")
    sf.add_argument("store")
    sf.add_argument("what", choices=("tag", "isolate", "strain",
                                     "segment", "sequence", "clear"))
    sf.add_argument("file", nargs="?", default=None)
    sf.set_defaults(fn=cmd_fetch)

    sd = sub.add_parser("delete")
    sd.add_argument("store")
    sd.add_argument("kind", choices=["subtypes", "constellations",
                                     "us_clades", "gl_clades", "motifs",
                                     "query-tags"])
    sd.set_defaults(fn=cmd_delete)

    sco = sub.add_parser("construct")
    sco.add_argument("store")
    sco.add_argument("file")
    sco.add_argument("args", nargs="*", help="KEY=VALUE macro substitutions")
    sco.set_defaults(fn=cmd_construct)

    su2 = sub.add_parser("update")
    su2.add_argument("store")
    su2.add_argument("file")
    su2.add_argument("args", nargs="*", help="KEY=VALUE macro substitutions")
    su2.set_defaults(fn=cmd_update)

    si = sub.add_parser("init")
    si.add_argument("store")
    si.set_defaults(fn=cmd_init)

    su = sub.add_parser("upload")
    su.add_argument("store")
    su.add_argument("files", nargs="+")
    su.set_defaults(fn=cmd_upload)

    sc = sub.add_parser("classify")
    sc.add_argument("file")
    sc.add_argument("--octoflu-dir", dest="octoflu_dir", required=True,
                    help="path to an octoFLU checkout (octoFLU.sh)")
    sc.set_defaults(fn=cmd_classify)

    sr = sub.add_parser("report")
    sr.add_argument("op", choices=["materialize", "refresh", "show"])
    sr.add_argument("store")
    sr.add_argument("--no-sameas", dest="no_sameas", action="store_true")
    sr.set_defaults(fn=cmd_report)

    sv = sub.add_parser("validate")
    sv.add_argument("store")
    sv.add_argument("--no-sameas", dest="no_sameas", action="store_true")
    sv.add_argument("--materialize-entailment",
                    dest="materialize_entailment", action="store_true")
    sv.add_argument("--refresh-entailment",
                    dest="refresh_entailment", action="store_true",
                    help="fold triple changes into triples_entailed "
                         "at O(changes) before validating")
    sv.add_argument("--strict", action="store_true",
                    help="exit 3 on warn-only shapes too")
    sv.set_defaults(fn=cmd_validate)

    ss = sub.add_parser("store")
    ss.add_argument("op", choices=["compact", "vacuum", "lookup",
                                   "history", "expire", "changes",
                                   "stats", "sketches"])
    ss.add_argument("store")
    ss.add_argument("--table", default="triples_canonical")
    ss.add_argument("--subject", help="IRI for lookup")
    ss.add_argument("--since", type=int, default=0,
                    help="manifest seq for changes")
    ss.add_argument("--keep-last", dest="keep_last", type=int, default=1,
                    help="retained versions for expire")
    ss.set_defaults(fn=cmd_store)

    sca = sub.add_parser("scale")
    sca.add_argument("op", choices=_SCALE_OPS)
    sca.add_argument("input", help="documents parquet path")
    sca.add_argument("--out", help="output parquet dir (else TSV head)")
    sca.add_argument("--threshold", type=float, default=0.2)
    sca.add_argument("--k", type=int, default=8,
                     help="k-gram size (dedup-spans) / top-k (tfidf)")
    sca.add_argument("--key", default="lang", help="sample group column")
    sca.add_argument("--stages", default="view,click,purchase",
                     help="funnel/attribution event types (comma list)")
    sca.add_argument("--skew-key", dest="skew_key", default="source",
                     help="skew op: the key column profiled per --key group")
    sca.add_argument("--weights", default="en:5,de:2,es:1,fr:1,zh:1",
                     help="mix-epochs: integer domain weights d:w,...")
    sca.add_argument("--hamming", type=int, default=3,
                     help="dhash-neardup: max hamming distance (of 64)")
    sca.add_argument("--iters", type=int, default=3,
                     help="kmeans: Lloyd rounds")
    sca.add_argument("--stride", type=int, default=1,
                     help="avi-frames: decode every stride-th frame")
    sca.add_argument("--gz", action="store_true",
                     help="warc-*: payloads are member-per-record .warc.gz")
    sca.add_argument("--robots",
                     help="frontier/politeness: robots-fetch media parquet")
    sca.add_argument("--url-col", dest="url_col", default="url",
                     help="url-normalize/blocklist: URL column")
    sca.add_argument("--blocklist",
                     help="blocklist: parquet with a domain column")
    sca.add_argument("--annotate", action="store_true",
                     help="blocklist: tag blocked_by instead of dropping")
    sca.add_argument("--vocab-k", dest="vocab_k", type=int, default=2000,
                     help="naive-bayes: vocabulary cap")
    sca.add_argument("--seed", type=int, default=0,
                     help="walks: deterministic md5 seed")
    sca.add_argument("--window", type=int, default=2,
                     help="skipgrams: context window")
    sca.add_argument("--text-col", dest="text_col", default="content",
                     help="code ops: source text column")
    sca.add_argument("--lang-family", dest="lang_family", default="c",
                     help="strip-comments: comment grammar (c/python/sql)")
    sca.add_argument("--target",
                     help="dsir/hard-negatives: exemplar/query parquet")
    sca.add_argument("--alpha", type=float, default=0.7)
    sca.add_argument("--frac", type=float, default=0.5)
    sca.add_argument("--limit", type=int, default=20)
    sca.add_argument("--cores", type=int)
    sca.set_defaults(fn=cmd_scale)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
