"""CLI — parity with the reference's ``pyrml-mapper.py`` (which, note, ships
with a NameError bug at pyrml-mapper.py:27; documented in SURVEY.md §7 and
not replicated):

    python -m pyrml_spark [-o OUTPUT] [-f FORMAT] [-p N]
                          [-v KEY=VALUE ...] mapping.ttl

Default output format nt-like (the reference defaults to 'nt',
pyrml-mapper.py:40). Parquet output is the scale path: partitioned
(s,p,o,g) table. Every RDF text format goes through
:func:`pyrml_spark.rdfserialize.write_rdf` — streamed to stdout, or one
file with ``-o`` — except ``-o`` with ntriples/nquads, which writes the
distributed N-Quads directory sink.

Query mode (`--sparql`, no reference counterpart — it only writes
graphs): run a SPARQL SELECT/ASK/CONSTRUCT (kg/sparql.py's documented
subset) over either the triples a mapping just produced, or a
previously materialized table (`--triples DIR` from an earlier
``-f parquet`` / ``-f table`` run — the construct-once/query-many
path). SELECT prints TSV (or writes parquet with -o), ASK prints
true/false, CONSTRUCT feeds the resulting graph through the same
``-f`` serializers as a conversion.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="pyrml_spark")
    ap.add_argument("mapping", nargs="?", default=None,
                    help="RML mapping document (Turtle); omit when "
                         "querying an existing table via --triples")
    ap.add_argument("--sparql", default=None, metavar="QUERY",
                    help="SPARQL SELECT/ASK/CONSTRUCT to run over the "
                         "converted or --triples graph (@file to read "
                         "the query text from a file)")
    ap.add_argument("--triples", default=None, metavar="DIR",
                    help="materialized (s,p,o[,g]) parquet/table dir to "
                         "query instead of converting a mapping")
    ap.add_argument("-o", "--output", default=None,
                    help="output path (directory); stdout if omitted")
    ap.add_argument("-f", "--format", default="ntriples",
                    choices=["nquads", "ntriples", "parquet", "table",
                             "turtle", "ttl", "n3", "trig",
                             "xml", "pretty-xml", "trix"])
    ap.add_argument("--buckets", type=int, default=32,
                    help="subject-hash buckets for -f table")
    ap.add_argument("-p", "--parallelism", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    ap.add_argument("-v", "--var", action="append", default=[],
                    metavar="KEY=VALUE",
                    help="template variable (Jinja-style {{ KEY }})")
    ap.add_argument("--no-dedup", action="store_true",
                    help="skip the distinct pass (RDF set semantics) of the "
                         "parquet, table and -o N-Triples/N-Quads sinks; "
                         "the other text outputs are always a set")
    args = ap.parse_args(argv)

    if args.mapping is None and args.triples is None:
        ap.error("provide a mapping to convert, or --triples to query")
    if args.mapping is not None and args.triples is not None:
        ap.error("mapping and --triples are mutually exclusive "
                 "(convert first, then query the materialized table)")
    if args.triples is not None and args.sparql is None:
        ap.error("--triples requires --sparql (nothing to do otherwise)")

    template_vars = {}
    for kv in args.var:
        k, _, v = kv.partition("=")
        template_vars[k] = v

    from .plans.tuning import build_session

    spark = build_session(
        "pyrml_spark_cli", master=f"local[{args.parallelism}]",
        shuffle_partitions=max(args.parallelism, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from .nquads import write_nquads
    from .rdfserialize import write_rdf

    if args.triples is not None:
        df = spark.read.parquet(args.triples)
        missing = {"s", "p", "o"} - set(df.columns)
        if missing:
            print(f"--triples table lacks column(s) {sorted(missing)} "
                  f"(found {df.columns})", file=sys.stderr)
            return 2
    else:
        from .compiler import convert

        df = convert(
            spark, args.mapping, template_vars=template_vars or None,
            deduplicate=not args.no_dedup,
        )
    from pyspark.sql import functions as F

    if args.sparql is not None:
        query = args.sparql
        if query.startswith("@"):
            with open(query[1:], encoding="utf-8") as fh:
                query = fh.read()
        from .kg.sparql import (parse_select, sparql_ask,
                                sparql_construct, sparql_describe,
                                sparql_select)

        # keep g when present so GRAPH queries work over quad tables
        cols = ["s", "p", "o"] + (["g"] if "g" in df.columns else [])
        triples = df.select(*cols)
        form = parse_select(query).form
        if form == "ASK":
            print("true" if sparql_ask(triples, query, stats="auto")
                  else "false")
            return 0
        if form == "SELECT":
            out = sparql_select(triples, query, stats="auto")
            if args.output:
                out.write.mode("overwrite").parquet(args.output)
            else:
                print("\t".join(out.columns))
                for row in out.toLocalIterator():
                    print("\t".join("" if v is None else str(v)
                                    for v in row))
            return 0
        # CONSTRUCT/DESCRIBE: a graph — flows through the -f serializers
        if form == "DESCRIBE":
            df = sparql_describe(triples, query, stats="auto").select(
                "s", "p", "o")
        else:
            df = sparql_construct(triples, query, stats="auto")
        df = df.withColumn("g", F.lit(None).cast("string"))

    if args.format in ("parquet", "table"):
        if not args.output:
            print(f"{args.format} output requires -o", file=sys.stderr)
            return 2
        if args.format == "parquet":
            df.write.mode("overwrite").parquet(args.output)
        else:
            # the scale sink: subject-hash-bucketed partitioned table
            # (Iceberg when a catalog is configured, identical parquet
            # layout otherwise)
            from .kg.table import write_triples_table

            write_triples_table(df, args.output, n_buckets=args.buckets)
    elif args.output and args.format in ("ntriples", "nquads"):
        # the distributed text sink: a directory of part files
        if args.format == "ntriples":
            # the union graph: a triple asserted in two graphs is one line
            df = df.withColumn("g", F.lit(None).cast("string"))
            if not args.no_dedup:
                df = df.distinct()
        write_nquads(df, args.output)
    elif args.output:
        # one text file (reference pyrml-mapper.py:37-52 formats)
        with open(args.output, "w", encoding="utf-8") as fh:
            write_rdf(df, args.format, fh)
    else:
        write_rdf(df, args.format, sys.stdout)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
