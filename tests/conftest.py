import pytest


@pytest.fixture(scope="session")
def spark():
    from ontocast_spark.session import build_spark

    spark = build_spark(
        app_name="ontocast-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def reference_chain(spark):
    """The staged operator chain the fused pipeline is checked against:
    ``reference_chain(conversations, max_turns=...)`` runs assemble ->
    chunk -> extract with the pipeline's default domain, turn cap and
    chunk cap, and returns the ``extract_triples`` rows
    (``part`` = 'facts' | 'ontology')."""
    from ontocast_spark.ontology import builtin_ontology_index
    from ontocast_spark.operators.assemble import assemble_documents
    from ontocast_spark.operators.chunking import chunk_documents
    from ontocast_spark.operators.extraction import extract_triples
    from ontocast_spark.pipeline import PipelineConfig

    cfg = PipelineConfig()
    index = builtin_ontology_index()

    def run(conversations, max_turns=cfg.max_turns):
        docs = assemble_documents(
            conversations, domain=cfg.domain, max_turns=max_turns
        )
        chunks = chunk_documents(docs, max_chunks=cfg.max_chunks)
        return extract_triples(spark, chunks, index)

    return run
