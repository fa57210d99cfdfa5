"""CLI mirroring the reference binary's interface
(/root/reference/main.go:38-56: `rdf2smw --in triples.nt --out pages.xml`),
plus the web-pipeline mode the reference doesn't have.

    python -m rdf2smw_spark --in triples.nt --out outdir/
    python -m rdf2smw_spark --pages pages_parquet/ --out outdir/ --mode web

Run on a cluster with:
    ./scripts/submit.sh --in triples.nt --out outdir/
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    from rdf2smw_spark.plans.pipeline import ENTAIL_MODES

    ap = argparse.ArgumentParser(prog="rdf2smw_spark")
    ap.add_argument("--in", dest="infile", help="input N-Triples file(s)")
    ap.add_argument("--pages", help="input pages table (parquet) for web mode")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--mode", choices=["nt", "web"], default="nt")
    ap.add_argument("--no-templates", action="store_true",
                    help="plain [[fact::value]] wikitext instead of template calls")
    ap.add_argument("--salt", type=int, default=16, help="aggregation salt buckets")
    ap.add_argument("--near-dedup", action="store_true",
                    help="web mode: drop near-duplicate documents across urls "
                         "(MinHash pairs -> connected components, keep min url)")
    ap.add_argument("--near-dedup-threshold", type=float, default=0.9,
                    help="Jaccard threshold for --near-dedup (default 0.9)")
    ap.add_argument("--min-quality", type=float, default=None,
                    help="web mode: drop documents scoring below this [0,1] "
                         "quality heuristic before triplify")
    ap.add_argument("--max-dup-line-frac", type=float, default=None,
                    help="web mode: drop documents whose duplicate-line "
                         "fraction exceeds this (REPETITION gate)")
    ap.add_argument("--max-top-bigram-frac", type=float, default=None,
                    help="web mode: drop documents whose most frequent "
                         "word-bigram exceeds this fraction of all bigrams")
    ap.add_argument("--benchmark", default=None,
                    help="web mode: parquet of eval-set documents (text "
                         "column); drops training docs with token n-gram "
                         "overlap (DECONTAM stage)")
    ap.add_argument("--fuzzy-link-threshold", type=float, default=None,
                    help="web mode: with an entity dictionary, fuzzy-link "
                         "(char-3-gram Jaccard >= threshold) the literal "
                         "surfaces the exact LINK pass left unmatched")
    ap.add_argument("--url-blocklist", default=None,
                    help="web mode: parquet of blocked domains (host "
                         "column); pages on a blocked host or any of "
                         "its subdomains are dropped before extraction")
    ap.add_argument("--entity-dict", default=None,
                    help="web mode: parquet entity dictionary "
                         "(surface, uri, priority) enabling the LINK stage")
    ap.add_argument("--entail", choices=ENTAIL_MODES, default=None,
                    help="materialize schema-implied triples before page "
                         "conversion (RDFS rho-df and/or OWL-lite inverse/"
                         "symmetric/transitive); derived facts carry "
                         "entail:// provenance")
    ap.add_argument("--sparql", default=None,
                    help="SPARQL query or update to run over the --in "
                         "triples; result is written to OUT/sparql as "
                         "parquet (CONSTRUCT emits the triple schema, "
                         "re-ingestable via --in)")
    ap.add_argument("--sparql-file", default=None,
                    help="like --sparql but read the query from a file")
    ap.add_argument("--explain", action="store_true",
                    help="with --sparql: print the formatted physical plan "
                         "instead of executing the query")
    ap.add_argument("--cores", type=int, default=None)
    # BooleanOptionalAction gives a working --no-resume (ADVICE r2: a
    # store_true with default=True could never be disabled)
    ap.add_argument("--resume", action=argparse.BooleanOptionalAction, default=True)
    args = ap.parse_args(argv)

    from rdf2smw_spark.session import get_spark

    spark = get_spark(app_name="rdf2smw_spark-cli", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    query = args.sparql
    if args.sparql and args.sparql_file:
        ap.error("--sparql and --sparql-file are mutually exclusive")
    if args.sparql_file:
        with open(args.sparql_file) as fh:
            query = fh.read()

    if query and args.mode != "web":
        if not args.infile:
            ap.error("--sparql requires --in (an RDF input to query) "
                     "or --mode web (query the constructed KG)")
        if args.explain:
            from rdf2smw_spark.plans.pipeline import query_rdf

            form, df, _bad = query_rdf(spark, args.infile, query, args.entail)
            df.explain("formatted")
            print(json.dumps({"form": form, "explained": True,
                              "columns": df.columns}))
            return 0
        from rdf2smw_spark.plans.pipeline import run_sparql

        res = run_sparql(spark, args.infile, query, args.out, entail=args.entail)
    elif args.mode == "nt":
        if not args.infile:
            ap.error("--in required for nt mode (reference: main.go:47-50)")
        from rdf2smw_spark.plans.pipeline import run_nt_pipeline

        res = run_nt_pipeline(
            spark, args.infile, args.out,
            use_templates=not args.no_templates, n_salt=args.salt,
            entail=args.entail,
        )
    else:
        if not args.pages:
            ap.error("--pages required for web mode")
        if args.fuzzy_link_threshold is not None and not args.entity_dict:
            ap.error("--fuzzy-link-threshold requires --entity-dict "
                     "(the LINK stage only runs with a dictionary)")
        from rdf2smw_spark.plans.pipeline import run_web_pipeline

        pages = spark.read.parquet(args.pages)
        res = run_web_pipeline(
            spark, pages, args.out, resume=args.resume, n_salt=args.salt,
            near_dedup=args.near_dedup,
            near_dedup_threshold=args.near_dedup_threshold,
            min_quality=args.min_quality,
            max_dup_line_frac=args.max_dup_line_frac,
            max_top_bigram_frac=args.max_top_bigram_frac,
            benchmark=(
                spark.read.parquet(args.benchmark) if args.benchmark else None
            ),
            entity_dict=(
                spark.read.parquet(args.entity_dict) if args.entity_dict else None
            ),
            fuzzy_link_threshold=args.fuzzy_link_threshold,
            entail=args.entail,
            sparql=query,
            url_blocklist=(
                spark.read.parquet(args.url_blocklist)
                if args.url_blocklist else None
            ),
        )

    print(json.dumps(res, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
