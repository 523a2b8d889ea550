"""Live Neo4j connector (S6/S8): ontology fetch + facts write against a
running server.

The reference talks to Neo4j through a bolt session plus the n10s
(neosemantics) plugin (/root/reference/ontocast/tool/triple_manager/
neo4j.py:211-412: ``owl:Ontology`` discovery by ``rdf:type``
relationship to the typed ``:Resource`` node, then per-ontology graph
reconstruction; writes MERGE ``:Resource {uri}`` nodes). The bolt
driver is an optional dependency here — same pattern as the docling /
Pillow hooks — so this module layers two
transports behind one ``run(cypher, params)`` contract:

1. :func:`register_bolt_client` — plug the real ``neo4j`` driver (or
   anything exposing ``run``) explicitly; auto-detected when the
   ``neo4j`` package is importable.
2. :class:`Neo4jHttpClient` — the public HTTP transactional Cypher API
   (``POST /db/{db}/tx/commit``), stdlib ``urllib`` only, picklable,
   usable from executors. This is a REAL protocol every Neo4j server
   speaks, so the connector is a tested live path even without bolt
   (stub-server test: tests/test_neo4j_live.py, mirroring
   tests/test_fuseki.py).

Graph model (the n10s property-graph projection the reference reads
back): IRI nodes are ``:Resource {uri}``; IRI-object triples are
relationships whose TYPE is the full predicate IRI; literal-object
triples are node properties keyed by predicate IRI (single value).

Scale design: the reference writes per-document from one process;
:func:`write_facts_neo4j` fans UNWIND-batched MERGE statements out
across executors via ``applyInPandas`` per conversation — sink
throughput scales with the cluster, bounded by the store. For true
bulk loads, prefer the offline exporters in
:mod:`ontocast_spark.sources.neo4j_export` (admin-import CSVs /
N-Triples for ``n10s.rdf.import``).
"""

from __future__ import annotations

import base64
import importlib.util
import json
import urllib.request
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..kernels.rdfterms import RDF_TYPE
from ..ontology import OntologyIndex

OWL_ONTOLOGY = "http://www.w3.org/2002/07/owl#Ontology"

# --- transport resolution (optional-dependency hook) -------------------
_registered_bolt_factory: Callable | None = None


def register_bolt_client(factory: Callable | None) -> None:
    """Plug a client factory globally: ``factory(uri, auth, database)
    -> client`` where the client exposes ``run(cypher, params) ->
    list[dict]``. Takes precedence over auto-detection; ``None``
    clears. Must be cloudpickle-serializable (executors call it)."""
    global _registered_bolt_factory
    _registered_bolt_factory = factory


# one bolt driver per (uri, auth) per process: GraphDatabase.driver
# holds a connection pool, and executors call make_client once per
# conversation group — without this memo every group would leak a pool
# for the worker's lifetime
_worker_bolt_drivers: dict = {}


def _bolt_factory(uri: str, auth: tuple | None, database: str):
    """Adapter over the real ``neo4j`` bolt driver (lazy import, only
    reached when the package is installed)."""
    from neo4j import GraphDatabase

    key = (uri, auth)
    driver = _worker_bolt_drivers.get(key)
    if driver is None:
        driver = GraphDatabase.driver(uri, auth=auth)
        _worker_bolt_drivers[key] = driver

    class _BoltClient:
        def run(self, cypher: str, params: dict | None = None) -> list[dict]:
            with driver.session(database=database) as session:
                return [dict(r) for r in session.run(cypher, params or {})]

    return _BoltClient()


class Neo4jHttpClient:
    """HTTP transactional Cypher endpoint client (stdlib only,
    picklable — executors build requests themselves)."""

    def __init__(
        self,
        base_uri: str,
        auth: tuple | None = None,
        database: str = "neo4j",
    ):
        self.base = base_uri.rstrip("/")
        self.auth = auth
        self.database = database

    def run(self, cypher: str, params: dict | None = None) -> list[dict]:
        payload = json.dumps(
            {"statements": [{"statement": cypher,
                             "parameters": params or {}}]}
        ).encode()
        headers = {"Content-Type": "application/json",
                   "Accept": "application/json"}
        if self.auth:
            cred = base64.b64encode(
                f"{self.auth[0]}:{self.auth[1]}".encode()
            ).decode()
            headers["Authorization"] = f"Basic {cred}"
        req = urllib.request.Request(
            f"{self.base}/db/{self.database}/tx/commit",
            data=payload, headers=headers, method="POST",
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            body = json.loads(r.read())
        if body.get("errors"):
            raise RuntimeError(f"neo4j error: {body['errors']}")
        out: list[dict] = []
        for result in body.get("results", []):
            cols = result.get("columns", [])
            for row in result.get("data", []):
                out.append(dict(zip(cols, row.get("row", []))))
        return out


def make_client(
    uri: str, auth: tuple | None = None, database: str = "neo4j"
):
    """Transport resolution: registered factory first; an http(s) URI
    always means the HTTP transactional API (the bolt driver does not
    speak http — auto-detecting it here would crash on valid input);
    any other scheme (bolt://, neo4j://, ...) needs the bolt driver.
    A bolt URI with no bolt transport raises — honestly."""
    if _registered_bolt_factory is not None:
        return _registered_bolt_factory(uri, auth, database)
    if uri.startswith(("http://", "https://")):
        return Neo4jHttpClient(uri, auth, database)
    if importlib.util.find_spec("neo4j") is not None:
        return _bolt_factory(uri, auth, database)
    raise NotImplementedError(
        f"no transport for {uri!r}: install the neo4j bolt driver, "
        "register_bolt_client(factory), or use an http(s) URI "
        "(HTTP transactional Cypher API)"
    )


# --- ontology fetch (reference neo4j.py:211-371) -----------------------

_DISCOVER_CYPHER = (
    "MATCH (o)-[r]->(t:Resource {uri: $owl_ontology}) "
    "WHERE type(r) = $rdf_type AND o.uri IS NOT NULL "
    "RETURN o.uri AS iri ORDER BY iri"
)
_RELS_CYPHER = (
    "MATCH (s:Resource)-[r]->(o:Resource) "
    "WHERE s.uri STARTS WITH $ns "
    "RETURN s.uri AS subj, type(r) AS pred, o.uri AS obj "
    "ORDER BY subj, pred, obj"
)
_PROPS_CYPHER = (
    "MATCH (s:Resource) WHERE s.uri STARTS WITH $ns "
    "UNWIND [k IN keys(s) WHERE k <> 'uri'] AS k "
    "RETURN s.uri AS subj, k AS pred, s[k] AS obj "
    "ORDER BY subj, pred, obj"
)


def fetch_ontology_iris(client) -> list[str]:
    """owl:Ontology discovery — the reference's metadata query
    (neo4j.py:252-276) with parameters instead of f-string
    interpolation."""
    rows = client.run(
        _DISCOVER_CYPHER,
        {"owl_ontology": OWL_ONTOLOGY, "rdf_type": RDF_TYPE},
    )
    return [r["iri"] for r in rows if r.get("iri")]


def fetch_graph_triples(client, namespace: str) -> list[tuple]:
    """Reconstruct (s, p, o, o_is_literal, o_datatype) triples for all
    resources under ``namespace`` from the n10s projection:
    relationships -> IRI-object triples, node properties ->
    literal-object triples (reference neo4j.py:278-371 fallback
    reconstruction)."""
    triples: list[tuple] = []
    for r in client.run(_RELS_CYPHER, {"ns": namespace}):
        triples.append((r["subj"], r["pred"], r["obj"], False, None))
    for r in client.run(_PROPS_CYPHER, {"ns": namespace}):
        triples.append((r["subj"], r["pred"], str(r["obj"]), True, None))
    return triples


def fetch_ontology_index(client) -> OntologyIndex:
    """Discovery + per-ontology reconstruction into the broadcastable
    term index (same two-step flow as the Fuseki source)."""
    from .documents import index_terms_from_triples

    terms = []
    for onto_iri in fetch_ontology_iris(client):
        triples = fetch_graph_triples(client, onto_iri)
        terms.extend(index_terms_from_triples(triples, {}))
    return OntologyIndex(terms=terms)


# --- facts sink --------------------------------------------------------

# apoc-free property write: dynamic keys ride in a map merged with
# ``SET s += row.props`` (no apoc dependency)
_SET_PROP_CYPHER = (
    "UNWIND $rows AS row "
    "MERGE (s:Resource {uri: row.subj}) "
    "SET s += row.props "
    "RETURN count(*) AS n"
)
_MERGE_RELS_CYPHER = (
    "UNWIND $rows AS row "
    "MERGE (s:Resource {uri: row.subj}) "
    "MERGE (o:Resource {uri: row.obj}) "
    "MERGE (s)-[r:`%s`]->(o) "
    "RETURN count(*) AS n"
)


#: Rows per UNWIND statement. One giant UNWIND for a large conversation
#: can exceed server request limits / transaction memory; MERGE and
#: last-wins SET += are idempotent and order-preserving within the
#: sorted replay, so fixed-size chunks keep identical semantics (and
#: stay task-retry safe).
UNWIND_BATCH_ROWS = 1000


def write_conversation_graph(
    client, triples: list[tuple], batch_rows: int = UNWIND_BATCH_ROWS
) -> int:
    """Write one conversation's triples: MERGE ``:Resource`` nodes,
    typed relationships for IRI objects, property batches for literals
    (reference write path neo4j.py:29-141, set-oriented), each list
    chunked into ``batch_rows``-row UNWIND statements so payload and
    transaction size stay bounded. Returns the number of statements
    issued."""
    rels: dict[str, list[dict]] = {}
    props: list[dict] = []
    # sorted replay: UNWIND applies rows in order and SET += is
    # last-wins, so two literal values for the same (subj, pred) must
    # arrive in a deterministic order — shuffle order is not one
    for s, p, o, lit, _ in sorted(
        triples,
        key=lambda t: (t[0] or "", t[1] or "", t[2] or "",
                       bool(t[3]), t[4] or ""),
    ):
        if lit:
            props.append({"subj": s, "props": {p: o}})
        else:
            rels.setdefault(p, []).append({"subj": s, "obj": o})
    statements = 0
    for i in range(0, len(props), batch_rows):
        client.run(_SET_PROP_CYPHER, {"rows": props[i:i + batch_rows]})
        statements += 1
    for pred, rows in sorted(rels.items()):
        cypher = _MERGE_RELS_CYPHER % pred.replace("`", "``")
        for i in range(0, len(rows), batch_rows):
            client.run(cypher, {"rows": rows[i:i + batch_rows]})
            statements += 1
    return statements


def write_facts_neo4j(
    kg_triples: DataFrame,
    uri: str,
    auth: tuple | None = None,
    database: str = "neo4j",
) -> int:
    """Distributed facts sink: per-conversation UNWIND-batched MERGE
    statements issued from the executors (one client per group).
    Returns the number of conversations written."""
    import pandas as pd

    cfg = (uri, auth, database)

    def put_group(pdf: pd.DataFrame) -> pd.DataFrame:
        client = make_client(*cfg)
        conv_id = pdf["conv_id"].iloc[0]
        triples = [
            (s, p, o, bool(lit), None)
            for s, p, o, lit in zip(
                pdf["subj"], pdf["pred"], pdf["obj"], pdf["obj_is_literal"]
            )
        ]
        n = write_conversation_graph(client, triples)
        return pd.DataFrame(
            {"conv_id": [conv_id], "n_statements": [n], "ok": [True]}
        )

    report = kg_triples.groupBy("conv_id").applyInPandas(
        put_group,
        schema="conv_id string, n_statements long, ok boolean",
    )
    return report.filter("ok").count()
