"""Pinned StructTypes for every table the pipeline reads or writes.

The reference is schema-free on the triple payload (rdflib graphs) and
Pydantic-fixed on state (/root/reference/ontocast/onto.py:423-528,
889-975); here everything is a pinned columnar schema — the triple model
is the 6-column shape of SURVEY.md §1.1, carried through Parquet/Iceberg.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# input: BASELINE.json input_hint
CONVERSATIONS = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), True),
])

DOCUMENTS = StructType([
    StructField("conv_id", StringType(), False),
    StructField("doc_hid", StringType(), False),
    StructField("doc_iri", StringType(), False),
    StructField("n_turns", LongType(), True),
    StructField("text", StringType(), True),
])

CHUNKS = StructType([
    StructField("conv_id", StringType(), False),
    StructField("doc_iri", StringType(), False),
    StructField("chunk_idx", IntegerType(), False),
    StructField("chunk_hid", StringType(), False),
    StructField("chunk_iri", StringType(), False),
    StructField("text", StringType(), True),
])

# (subj, pred, obj) + literal/datatype annotations; `part` marks the
# sublimation split: 'facts' | 'ontology'
TRIPLES = StructType([
    StructField("conv_id", StringType(), False),
    StructField("doc_iri", StringType(), False),
    StructField("chunk_hid", StringType(), False),
    StructField("chunk_iri", StringType(), False),
    StructField("subj", StringType(), False),
    StructField("pred", StringType(), False),
    StructField("obj", StringType(), False),
    StructField("obj_is_literal", BooleanType(), False),
    StructField("obj_datatype", StringType(), True),
])

ONTOLOGY_TERMS = StructType([
    StructField("ontology_id", StringType(), False),
    StructField("iri", StringType(), False),
    StructField("term_iri", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("label", StringType(), True),
    StructField("comment", StringType(), True),
    StructField("domain", StringType(), True),
    StructField("range", StringType(), True),
    StructField("datatype", StringType(), True),
])

CHECKPOINTS = StructType([
    StructField("stage", StringType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("row_count", LongType(), False),
    StructField("conv_count", LongType(), True),
    StructField("run_id", StringType(), False),
])


def split_lang_columns(df):
    """Public-boundary form of the triple model: splits the ``"@tag"``
    language-tag sentinel carried in ``obj_datatype`` (see
    sources/turtle.py) into an explicit nullable ``obj_lang`` column,
    normalizing the datatype of lang-tagged literals to RDF 1.1
    ``rdf:langString`` — the SURVEY §1.1 triple schema with language
    round-trip (reference keeps tags via rdflib Literal.language)."""
    from pyspark.sql import functions as F

    from .kernels.rdfterms import RDF_LANGSTRING

    is_lang = F.coalesce(
        F.col("obj_datatype").startswith("@"), F.lit(False)
    )
    return df.withColumn(
        "obj_lang",
        F.when(is_lang, F.expr("substring(obj_datatype, 2)")),
    ).withColumn(
        "obj_datatype",
        F.when(is_lang, F.lit(RDF_LANGSTRING)).otherwise(F.col("obj_datatype")),
    )


def merge_lang_columns(df):
    """Exact inverse of :func:`split_lang_columns`, for serializers:
    folds ``obj_lang`` back into the ``"@tag"`` dt-slot sentinel and
    drops it. A frame without ``obj_lang`` is returned unchanged."""
    if "obj_lang" not in df.columns:
        return df
    from pyspark.sql import functions as F

    return df.withColumn(
        "obj_datatype",
        F.when(
            F.col("obj_lang").isNotNull(),
            F.concat(F.lit("@"), F.col("obj_lang")),
        ).otherwise(F.col("obj_datatype")),
    ).drop("obj_lang")
