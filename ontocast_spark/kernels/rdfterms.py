"""RDF term constants and IRI utilities (pure Python, no Spark).

These are the deterministic naming kernels of the reference engine,
re-expressed from public behavior:

- ``render_text_hash``: /root/reference/ontocast/util.py:33-44
  (``sha256(text)[:12]`` hex).
- ``iri2namespace``: /root/reference/ontocast/util.py:10-21.
- ``derive_ontology_id``: /root/reference/ontocast/onto.py:26-53
  (urlparse-based local-name / ontology-id derivation with the
  conventional-prefix shortcut table).
- ``clean_local_name``: /root/reference/ontocast/tool/aggregate.py:635-646.

They are used both driver-side and inside Arrow-batched pandas UDFs, so
they must stay dependency-free (stdlib only).
"""

from __future__ import annotations

import hashlib
import re
from functools import lru_cache
from urllib.parse import urlparse

# --- Namespaces (cf. /root/reference/ontocast/onto.py:88-101) ---
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
OWL_NS = "http://www.w3.org/2002/07/owl#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"
SKOS_NS = "http://www.w3.org/2004/02/skos/core#"
FOAF_NS = "http://xmlns.com/foaf/0.1/"
PROV_NS = "http://www.w3.org/ns/prov#"
SCHEMA_NS = "https://schema.org/"

RDF_TYPE = RDF_NS + "type"
RDF_LANGSTRING = RDF_NS + "langString"
RDF_PROPERTY = RDF_NS + "Property"
RDFS_LABEL = RDFS_NS + "label"
RDFS_COMMENT = RDFS_NS + "comment"
RDFS_DOMAIN = RDFS_NS + "domain"
RDFS_RANGE = RDFS_NS + "range"
RDFS_CLASS = RDFS_NS + "Class"
OWL_CLASS = OWL_NS + "Class"
PROV_ENTITY = PROV_NS + "Entity"
PROV_WAS_PART_OF = PROV_NS + "wasPartOf"
PROV_WAS_GENERATED_BY = PROV_NS + "wasGeneratedBy"
PROV_WAS_QUOTED_FROM = PROV_NS + "wasQuotedFrom"
SCHEMA_TEXT_DIGITAL_DOCUMENT = SCHEMA_NS + "TextDigitalDocument"
SCHEMA_HAS_PART = SCHEMA_NS + "hasPart"

XSD_INTEGER = XSD_NS + "integer"
XSD_DECIMAL = XSD_NS + "decimal"
XSD_DATE = XSD_NS + "date"

DEFAULT_DOMAIN = "https://example.com"
ONTOLOGY_NULL_ID = "_void_ontology_name"

# The reference resolves namespace-root IRIs to their conventional prefix
# via rdflib's default NamespaceManager bindings
# (/root/reference/ontocast/util.py:24-30). rdflib is not available in
# this environment, so the table of rdflib's standard core+"rdflib"
# bindings is reproduced here (public rdflib defaults).
CONVENTIONAL_MAPPINGS: dict[str, str] = {
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#": "rdf",
    "http://www.w3.org/2000/01/rdf-schema#": "rdfs",
    "http://www.w3.org/2001/XMLSchema#": "xsd",
    "http://www.w3.org/2002/07/owl#": "owl",
    "http://www.w3.org/XML/1998/namespace": "xml",
    "https://brickschema.org/schema/Brick#": "brick",
    "http://www.w3.org/ns/csvw#": "csvw",
    "http://purl.org/dc/elements/1.1/": "dc",
    "http://www.w3.org/ns/dcat#": "dcat",
    "http://purl.org/dc/dcmitype/": "dcmitype",
    "http://purl.org/dc/terms/": "dcterms",
    "http://purl.org/dc/dcam/": "dcam",
    "http://usefulinc.com/ns/doap#": "doap",
    "http://xmlns.com/foaf/0.1/": "foaf",
    "http://www.opengis.net/ont/geosparql#": "geo",
    "http://www.w3.org/ns/odrl/2/": "odrl",
    "http://www.w3.org/ns/org#": "org",
    "http://www.w3.org/ns/dx/prof/": "prof",
    "http://www.w3.org/ns/prov#": "prov",
    "http://purl.org/linked-data/cube#": "qb",
    "https://schema.org/": "schema",
    "http://www.w3.org/ns/shacl#": "sh",
    "http://www.w3.org/2004/02/skos/core#": "skos",
    "http://www.w3.org/ns/sosa/": "sosa",
    "http://www.w3.org/ns/ssn/": "ssn",
    "http://www.w3.org/2006/time#": "time",
    "http://purl.org/vocab/vann/": "vann",
    "http://rdfs.org/ns/void#": "void",
    "http://www.w3.org/2003/01/geo/wgs84_pos#": "wgs",
}


def render_text_hash(text: str, digits: int = 12) -> str:
    """``sha256(text)[:digits]`` hex — doc/chunk id."""
    return hashlib.sha256(text.encode()).hexdigest()[:digits]


def iri2namespace(iri: str, ontology: bool = False) -> str:
    """Namespace of an IRI: ``{iri}#`` for ontologies, else ``{iri}/``."""
    iri = iri.rstrip("#")
    return f"{iri}#" if ontology else f"{iri}/"


_CLEAN_EXT_RE = re.compile(r"\.(owl|ttl|rdf|xml)$", re.IGNORECASE)
_CLEAN_TLD_RE = re.compile(
    r"^(.*?)\.(org|com|net|io|edu|gov|int|mil)$", re.IGNORECASE
)
_CLEAN_ID_RE = re.compile(r"[^a-zA-Z0-9_-]")


def _clean_derived_id(value: str) -> str:
    value = _CLEAN_EXT_RE.sub("", value)
    m = _CLEAN_TLD_RE.match(value)
    if m:
        value = m.group(1)
    return _CLEAN_ID_RE.sub("", value).lower() or ONTOLOGY_NULL_ID


_FAST_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")


@lru_cache(maxsize=1 << 16)
def derive_ontology_id(iri: str) -> str:
    """Local-name / ontology-id derivation (pure; memoized — IRIs repeat
    heavily within a task).

    Behavior notes (faithful to the reference): the URL fragment is
    dropped by ``urlparse`` (so ``.../fsec#Document`` derives ``fsec``),
    and the result is lowercased alphanumerics/_/- only.
    """
    if not isinstance(iri, str) or not iri.strip():
        return ONTOLOGY_NULL_ID
    normalized = iri.strip().rstrip("/#")
    if normalized in CONVENTIONAL_MAPPINGS:
        return CONVENTIONAL_MAPPINGS[normalized]
    # fast path for clean scheme://netloc/path IRIs (the overwhelmingly
    # common shape — chunk-namespace IRIs are unique per chunk, so the
    # lru_cache misses and urlparse dominated): with a valid scheme and
    # no #fragment / ?query / ;params, urlparse's netloc/path split is
    # exactly the first-"/"-after-"://" split
    if (
        "#" not in normalized and "?" not in normalized
        and ";" not in normalized and _FAST_SCHEME_RE.match(normalized)
    ):
        after = normalized.split("://", 1)[1]
        slash = after.find("/")
        if slash >= 0:
            return _clean_derived_id(after[slash + 1 :].rsplit("/", 1)[-1])
        if after:
            return _clean_derived_id(after.split(".")[0])
        return _clean_derived_id(normalized)
    parsed = urlparse(normalized)
    candidate = (
        parsed.path.rsplit("/", 1)[-1]
        if parsed.path and "/" in parsed.path
        else parsed.netloc.split(".")[0]
        if parsed.netloc
        else normalized
    )
    return _clean_derived_id(candidate)


_LOCAL_NONWORD_RE = re.compile(r"[^\w\-.]", re.UNICODE)
_LOCAL_MULTI_UNDERSCORE_RE = re.compile(r"_+")


def clean_local_name(local_name: str) -> str:
    """Clean a local name for use in canonical IRIs."""
    cleaned = _LOCAL_NONWORD_RE.sub("_", local_name)
    cleaned = _LOCAL_MULTI_UNDERSCORE_RE.sub("_", cleaned)
    cleaned = cleaned.strip("_")
    return cleaned or "entity"


def chunk_iri_for(doc_iri: str, chunk_hid: str) -> str:
    """Chunk IRI: ``{doc_iri}/chunk/{chunk_hid}``."""
    return f"{doc_iri}/chunk/{chunk_hid}"
