"""spark-submit entry point.

Usage (cluster)::

    zip -r pipeline.zip ontocast_spark
    spark-submit --py-files pipeline.zip -m ontocast_spark.cli \
        --input /path/to/conversations_parquet_or_iceberg_table \
        --warehouse /path/to/kg_warehouse \
        [--ontology-dir /path/to/ttl_dir] [--domain https://example.com] \
        [--ttl-out /path/to/facts_ttl_dir]

Reads the transcript table (Iceberg table name or parquet path), runs
the full pipeline with warehouse checkpointing (resumable — re-running
the same command after a kill skips finished conversations), and
optionally serializes per-conversation Turtle facts files.

Additional subcommands (first argv token selects; omitted = pipeline):

``canonicalize`` — cross-document entity resolution over a triples
table. Batch mode rebuilds the canonical mapping from scratch;
``--existing-mapping``/``--canon-meta`` switches to the incremental
adopt-or-mint merge (existing canonicals never change) and writes the
refreshed side tables next to the mapping::

    spark-submit ... -m ontocast_spark.cli canonicalize \
        --facts wh/kg_canon --out /path/canon_out \
        [--existing-mapping prev/mapping --canon-meta prev/canon_meta]

``dedup`` — end-to-end near-duplicate removal over a documents table
(MinHash-LSH candidates -> exact Jaccard verify -> connected
components -> keeper per cluster)::

    spark-submit ... -m ontocast_spark.cli dedup \
        --input docs.parquet --out /path/dedup_out [--threshold 0.9]

``corpus`` — the composed training-corpus build (dedup ->
decontaminate -> quality/language gates -> split -> per-split
packing), writing corpus/, packing/, dropped/::

    spark-submit ... -m ontocast_spark.cli corpus \
        --input docs.parquet --out /path/corpus_out \
        [--benchmark bench.parquet] [--languages en,de] \
        [--pack-budget 2048]

``sparql`` — run a SPARQL query string/file against a triples table
through the text front-end (plans/sparql.py); SELECT/CONSTRUCT/
DESCRIBE/UPDATE results write as parquet (or show), ASK prints
true/false::

    spark-submit ... -m ontocast_spark.cli sparql \
        --triples wh/kg_canon --query-file q.rq [--out /path/answers]
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def _read_parquet_or_table(spark: SparkSession, arg: str):
    """One rule for every subcommand: a path-looking argument (contains
    ``/`` or ends in ``.parquet``) reads as parquet, anything else as a
    catalog table — the three previous inline copies had drifted."""
    if "/" in arg or arg.endswith(".parquet"):
        return spark.read.parquet(arg)
    return spark.read.table(arg)


def _cmd_canonicalize(argv) -> None:
    ap = argparse.ArgumentParser(description="cross-doc canonicalization")
    ap.add_argument("--facts", required=True,
                    help="parquet path or table of triples (kg_canon shape)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--kg-namespace", default="https://example.com/kg/")
    ap.add_argument("--existing-mapping", default=None)
    ap.add_argument("--canon-meta", default=None)
    ap.add_argument("--exact-only", action="store_true")
    args = ap.parse_args(argv)
    if args.existing_mapping and not args.canon_meta:
        raise SystemExit("--canon-meta is required with --existing-mapping")

    from .operators.crossdoc import (
        canonical_entity_meta,
        canonicalize_crossdoc,
        incremental_canonicalize,
    )

    spark = SparkSession.builder.appName("ontocast-canonicalize").getOrCreate()
    facts = _read_parquet_or_table(spark, args.facts)
    if args.existing_mapping:
        existing = spark.read.parquet(args.existing_mapping)
        meta = spark.read.parquet(args.canon_meta)
        rewritten, mapping = incremental_canonicalize(
            facts, existing, meta,
            kg_namespace=args.kg_namespace, exact_only=args.exact_only,
        )
    else:
        rewritten, mapping = canonicalize_crossdoc(
            facts, kg_namespace=args.kg_namespace, exact_only=args.exact_only,
        )
    rewritten.write.mode("overwrite").parquet(f"{args.out}/rewritten")
    mapping.write.mode("overwrite").parquet(f"{args.out}/mapping")
    canonical_entity_meta(
        spark.read.parquet(f"{args.out}/rewritten")
    ).write.mode("overwrite").parquet(f"{args.out}/canon_meta")
    print(f"mapping rows: {spark.read.parquet(f'{args.out}/mapping').count()}")


def _cmd_dedup(argv) -> None:
    ap = argparse.ArgumentParser(description="near-duplicate removal")
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--threshold", type=float, default=0.9)
    ap.add_argument("--num-hashes", type=int, default=16)
    ap.add_argument("--bands", type=int, default=4)
    args = ap.parse_args(argv)

    from .operators.dedup import dedup_corpus

    spark = SparkSession.builder.appName("ontocast-dedup").getOrCreate()
    docs = _read_parquet_or_table(spark, args.input)
    deduped, clusters = dedup_corpus(
        docs, threshold=args.threshold,
        num_hashes=args.num_hashes, bands=args.bands,
    )
    deduped.write.mode("overwrite").parquet(f"{args.out}/deduped")
    clusters.write.mode("overwrite").parquet(f"{args.out}/clusters")
    kept = spark.read.parquet(f"{args.out}/deduped").count()
    dropped = docs.count() - kept
    print(f"kept: {kept} dropped: {dropped}")


def _cmd_corpus(argv) -> None:
    ap = argparse.ArgumentParser(description="composed training-corpus build")
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--benchmark", default=None)
    ap.add_argument("--dedup-threshold", type=float, default=0.9)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--languages", default=None,
                    help="comma-separated allow-list, e.g. en,de")
    ap.add_argument("--pack-budget", type=int, default=2048)
    args = ap.parse_args(argv)

    from .operators.corpus import CorpusBuildConfig, build_training_corpus

    spark = SparkSession.builder.appName("ontocast-corpus").getOrCreate()
    docs = _read_parquet_or_table(spark, args.input)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    cfg = CorpusBuildConfig(
        dedup_threshold=args.dedup_threshold,
        min_tokens=args.min_tokens,
        languages=args.languages.split(",") if args.languages else None,
        pack_budget_tokens=args.pack_budget,
    )
    out = build_training_corpus(docs, bench, cfg)
    for name in ("corpus", "packing", "dropped"):
        out[name].write.mode("overwrite").parquet(f"{args.out}/{name}")
    kept = spark.read.parquet(f"{args.out}/corpus").count()
    dropped = spark.read.parquet(f"{args.out}/dropped").count()
    print(f"corpus: {kept} docs kept, {dropped} dropped")


def _cmd_sparql(argv) -> None:
    ap = argparse.ArgumentParser(
        description="run a SPARQL query against a triples table"
    )
    ap.add_argument("--triples", required=True,
                    help="parquet path or table of (subj, pred, obj[, "
                         "obj_is_literal, obj_lang, obj_datatype]) rows")
    ap.add_argument("--query", default=None, help="SPARQL query text")
    ap.add_argument("--query-file", default=None, help="file with the query")
    ap.add_argument("--out", default=None,
                    help="write results as parquet; omitted = show()")
    ap.add_argument("--limit-show", type=int, default=50)
    args = ap.parse_args(argv)
    if not (args.query or args.query_file):
        raise SystemExit("one of --query / --query-file is required")

    from .plans.sparql import sparql

    text = args.query or open(args.query_file, encoding="utf-8").read()
    spark = SparkSession.builder.appName("ontocast-sparql").getOrCreate()
    triples = _read_parquet_or_table(spark, args.triples)
    result = sparql(triples, text)
    if isinstance(result, bool):  # ASK
        print("true" if result else "false")
        return
    if args.out:
        result.write.mode("overwrite").parquet(args.out)
        print(f"rows: {spark.read.parquet(args.out).count()}")
    else:
        result.show(args.limit_show, truncate=False)


_COMMANDS = {"pipeline", "canonicalize", "dedup", "corpus", "sparql"}


def main(argv=None) -> None:
    import sys

    argv = list(sys.argv[1:] if argv is None else argv)
    cmd = "pipeline"
    if argv and argv[0] in _COMMANDS:
        cmd = argv.pop(0)
    if cmd == "canonicalize":
        return _cmd_canonicalize(argv)
    if cmd == "dedup":
        return _cmd_dedup(argv)
    if cmd == "corpus":
        return _cmd_corpus(argv)
    if cmd == "sparql":
        return _cmd_sparql(argv)
    ap = argparse.ArgumentParser(description="ontocast_spark KG pipeline")
    ap.add_argument("--input", default=None,
                    help="parquet path or Iceberg table of conversations")
    ap.add_argument("--docs-dir", default=None,
                    help="directory of .txt/.md/.json documents (the "
                         "reference's one-file-one-document entry)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--ontology-dir", default=None)
    ap.add_argument("--domain", default="https://example.com")
    ap.add_argument("--ttl-out", default=None)
    ap.add_argument("--max-turns", type=int, default=100_000)
    ap.add_argument("--max-chunks", type=int, default=None)
    ap.add_argument("--run-id", default="cli")
    args = ap.parse_args(argv)
    if not args.input and not args.docs_dir:
        raise SystemExit("one of --input or --docs-dir is required")

    from .ontology import builtin_ontology_index
    from .pipeline import PipelineConfig, run_pipeline, run_pipeline_documents
    from .sources.documents import (
        load_ontology_dir,
        read_documents_dir,
        write_facts_turtle,
    )

    spark = SparkSession.builder.appName("ontocast-spark").getOrCreate()
    index = (
        load_ontology_dir(args.ontology_dir)
        if args.ontology_dir
        else builtin_ontology_index()
    )
    cfg = PipelineConfig(
        domain=args.domain,
        max_turns=args.max_turns,
        max_chunks=args.max_chunks,
    )
    if args.docs_dir:
        out = run_pipeline_documents(
            spark, read_documents_dir(spark, args.docs_dir),
            index=index, config=cfg,
            warehouse=args.warehouse, run_id=args.run_id,
        )
    else:
        out = run_pipeline(
            spark, _read_parquet_or_table(spark, args.input), index=index, config=cfg,
            warehouse=args.warehouse, run_id=args.run_id,
        )
    n = out["kg_triples"].count()
    print(f"kg_triples rows: {n}")
    if args.ttl_out:
        written = write_facts_turtle(out["kg_triples"], args.ttl_out)
        print(f"turtle files written: {written}")


if __name__ == "__main__":
    main()
