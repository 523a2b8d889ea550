"""ontocast_spark — PySpark-native knowledge-graph construction over
transcript tables. See README.md and COVERAGE.md.

The exported names load on first access (PEP 562), so importing a
kernel module — as a Spark Python worker does — does not import the
Spark-side pipeline, ``pyspark.sql`` or pandas."""

import importlib

_EXPORTS = {
    "OntologyIndex": ".ontology",
    "OntologyTerm": ".ontology",
    "builtin_ontology_index": ".ontology",
    "PipelineConfig": ".pipeline",
    "run_pipeline": ".pipeline",
    "build_spark": ".session",
}

__all__ = sorted(_EXPORTS)


def __getattr__(name):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(_EXPORTS[name], __name__), name)
