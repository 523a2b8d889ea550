"""File-based document sources and Turtle-backed ontology loading.

Parity with the reference's ingest surface:

- S1 JSON/text source (``{"text": ...}`` payloads / plain text files,
  /root/reference/ontocast/agent/convert_document.py:48-57),
- S3 directory crawler with sorted order
  (/root/reference/ontocast/cli/util.py:10-26),
- S4 filesystem ontology source (sorted ``*.ttl`` directory,
  /root/reference/ontocast/tool/triple_manager/filesystem_manager.py:60-85),
- S7/S9 Turtle sinks for facts / ontology graphs.

File reads use Spark's distributed readers (``text`` with
``wholetext``); Turtle parsing of the *small* ontology directory happens
driver-side (as in the reference) into the broadcastable term index.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.rdfterms import (
    RDF_PROPERTY,
    RDF_TYPE,
    RDFS_COMMENT,
    RDFS_DOMAIN,
    RDFS_LABEL,
    RDFS_RANGE,
    derive_ontology_id,
)
from ..ontology import OntologyIndex, OntologyTerm
from ..schemas import merge_lang_columns
from .turtle import parse_turtle, serialize_turtle

OWL_CLASS_IRIS = {
    "http://www.w3.org/2002/07/owl#Class",
    "http://www.w3.org/2000/01/rdf-schema#Class",
}
PROPERTY_IRIS = {
    RDF_PROPERTY,
    "http://www.w3.org/2002/07/owl#ObjectProperty",
    "http://www.w3.org/2002/07/owl#DatatypeProperty",
}


def read_documents_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory of .json/.txt/.md files -> documents(doc_path, text).

    JSON payloads are ``{"text": ...}``; other files are raw text.
    Distributed read (one task per file via wholetext), sorted paths.
    """
    df = (
        spark.read.option("wholetext", "true")
        .text(os.path.join(path, "*"))
        .select(
            F.input_file_name().alias("doc_path"), F.col("value").alias("raw")
        )
    )
    is_json = F.col("doc_path").endswith(".json")
    text = F.when(
        is_json, F.get_json_object(F.col("raw"), "$.text")
    ).otherwise(F.col("raw"))
    return df.select("doc_path", text.alias("text")).orderBy("doc_path")


def load_ontology_dir(path: str) -> OntologyIndex:
    """Sorted ``*.ttl`` files -> broadcastable OntologyIndex (driver
    side; ontology files are small by contract)."""
    terms: list[OntologyTerm] = []
    for ttl_path in sorted(glob.glob(os.path.join(path, "*.ttl"))):
        with open(ttl_path, encoding="utf-8") as f:
            triples, prefixes = parse_turtle(f.read())
        terms.extend(index_terms_from_triples(triples, prefixes))
    return OntologyIndex(terms=terms)


def index_terms_from_triples(
    triples: list[tuple], prefixes: dict[str, str] | None = None
) -> list[OntologyTerm]:
    """One parsed ontology graph -> OntologyTerm rows (shared by the
    filesystem source above and the Fuseki source,
    sources/fuseki.py)."""
    prefixes = prefixes or {}
    terms: list[OntologyTerm] = []
    by_subj: dict[str, dict] = {}
    onto_iri = None
    for s, p, o, lit, dt in triples:
        if p == RDF_TYPE and o == "http://www.w3.org/2002/07/owl#Ontology":
            onto_iri = s
        meta = by_subj.setdefault(s, {})
        if p == RDF_TYPE and not lit:
            meta.setdefault("types", set()).add(o)
        elif p == RDFS_LABEL and lit:
            meta["label"] = o
        elif p == RDFS_COMMENT and lit:
            meta["comment"] = o
        elif p == RDFS_DOMAIN:
            meta["domain"] = o
        elif p == RDFS_RANGE:
            meta["range"] = o
    if onto_iri is None:
        onto_iri = next(iter(prefixes.values()), "https://example.com/onto#")
    ontology_id = derive_ontology_id(onto_iri)
    ns = onto_iri if onto_iri.endswith(("#", "/")) else onto_iri + "#"
    for term_iri, meta in sorted(by_subj.items()):
        types = meta.get("types", set())
        if types & OWL_CLASS_IRIS:
            kind = "class"
        elif types & PROPERTY_IRIS or "domain" in meta or "range" in meta:
            kind = "property"
        else:
            continue
        terms.append(
            OntologyTerm(
                ontology_id=ontology_id,
                iri=ns,
                term_iri=term_iri,
                kind=kind,
                label=meta.get("label", derive_ontology_id(term_iri)),
                comment=meta.get("comment"),
                domain=meta.get("domain"),
                range=meta.get("range"),
            )
        )
    return terms


def write_facts_turtle(
    kg_triples: DataFrame, out_dir: str, prefixes: dict[str, str] | None = None
) -> int:
    """Facts sink: one deterministic ``facts_{conv_id}.ttl`` per
    conversation (the reference's ``facts_{spec}.ttl``,
    filesystem_manager.py:109-143). Serialization fans out per
    conversation via applyInPandas; files land under ``out_dir``.
    Returns the number of files written."""
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    px = prefixes or {}

    # the Turtle serializer round-trips the dt-slot '@tag' sentinel
    kg_triples = merge_lang_columns(kg_triples)

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        conv_id = pdf["conv_id"].iloc[0]
        triples = [
            (s, p, o, bool(lit), None if dt is None or pd.isna(dt) else dt)
            for s, p, o, lit, dt in zip(
                pdf["subj"], pdf["pred"], pdf["obj"],
                pdf["obj_is_literal"], pdf["obj_datatype"],
            )
        ]
        ttl = serialize_turtle(triples, px)
        path = os.path.join(out_dir, f"facts_{conv_id}.ttl")
        with open(path, "w", encoding="utf-8") as f:
            f.write(ttl)
        return pd.DataFrame({"conv_id": [conv_id], "n_triples": [len(triples)]})

    written = (
        kg_triples.groupBy("conv_id")
        .applyInPandas(write_group, schema="conv_id string, n_triples long")
        .count()
    )
    return written

