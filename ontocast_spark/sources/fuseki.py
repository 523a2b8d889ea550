"""Fuseki triple-store connector (S5/S8): SPARQL Graph Store protocol
over stdlib ``urllib`` — no external HTTP client.

Parity with the reference's FusekiTripleStoreManager
(/root/reference/ontocast/tool/triple_manager/fuseki.py:180-334):

- ``put_graph``  == serialize_ontology/serialize_facts — HTTP PUT of
  Turtle to ``{dataset}/data?graph=<iri>``;
- ``get_graph``  == the named-graph fetch — GET
  ``{dataset}/get?graph=<iri>`` with ``Accept: text/turtle``;
- ``sparql_select`` + ``fetch_ontology_index`` == fetch_ontologies —
  owl:Ontology discovery query, then per-graph fetch into the
  broadcastable OntologyIndex (same two-step protocol).

Scale design: the reference PUTs once per document from a single
process; :func:`write_facts_fuseki` fans the per-conversation PUTs out
across executors (``applyInPandas`` group per conversation — the same
shape as the filesystem Turtle sink, sources/documents.py), so sink
throughput scales with the cluster, bounded by the store. The ontology
graph is small and writes driver-side.
"""

from __future__ import annotations

import base64
import json
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame

from ..ontology import OntologyIndex
from ..schemas import merge_lang_columns
from .turtle import parse_turtle, serialize_turtle

OWL_ONTOLOGY = "http://www.w3.org/2002/07/owl#Ontology"
DISCOVERY_QUERY = (
    "SELECT DISTINCT ?s WHERE { { GRAPH ?g { ?s a <" + OWL_ONTOLOGY + "> } } "
    "UNION { ?s a <" + OWL_ONTOLOGY + "> } }"
)


class FusekiClient:
    """Minimal Graph Store / SPARQL client (stdlib only, picklable —
    executors construct requests themselves)."""

    def __init__(self, base_uri: str, dataset: str, auth: tuple | None = None):
        self.base = base_uri.rstrip("/")
        self.dataset = dataset
        self.auth = auth

    def _headers(self, extra: dict | None = None) -> dict:
        h = dict(extra or {})
        if self.auth:
            cred = base64.b64encode(
                f"{self.auth[0]}:{self.auth[1]}".encode()
            ).decode()
            h["Authorization"] = f"Basic {cred}"
        return h

    def _url(self, endpoint: str, graph: str | None = None) -> str:
        url = f"{self.base}/{self.dataset}/{endpoint}"
        if graph is not None:
            url += "?graph=" + urllib.parse.quote(graph, safe="")
        return url

    def put_graph(self, graph_iri: str, turtle: str) -> bool:
        req = urllib.request.Request(
            self._url("data", graph_iri),
            data=turtle.encode("utf-8"),
            headers=self._headers(
                {"Content-Type": "text/turtle;charset=utf-8"}
            ),
            method="PUT",
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status in (200, 201, 204)

    def get_graph(self, graph_iri: str) -> tuple[list[tuple], dict]:
        req = urllib.request.Request(
            self._url("get", graph_iri),
            headers=self._headers({"Accept": "text/turtle"}),
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            return parse_turtle(r.read().decode("utf-8"))

    def sparql_select(self, query: str) -> list[dict]:
        data = urllib.parse.urlencode(
            {"query": query, "format": "application/sparql-results+json"}
        ).encode()
        req = urllib.request.Request(
            self._url("sparql"),
            data=data,
            headers=self._headers(
                {"Content-Type": "application/x-www-form-urlencoded"}
            ),
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            return json.loads(r.read()).get("results", {}).get("bindings", [])

    def fetch_ontology_index(self) -> OntologyIndex:
        """Two-step discovery + fetch (fuseki.py:188-270) into the
        broadcastable term index."""
        from .documents import index_terms_from_triples

        terms = []
        for binding in self.sparql_select(DISCOVERY_QUERY):
            onto_iri = binding["s"]["value"]
            triples, prefixes = self.get_graph(onto_iri)
            # verify the ontology is actually typed in its named graph
            if not any(
                s == onto_iri and o == OWL_ONTOLOGY for s, _, o, _, _ in triples
            ):
                continue
            terms.extend(index_terms_from_triples(triples, prefixes))
        return OntologyIndex(terms=terms)


def write_facts_fuseki(
    kg_triples: DataFrame,
    base_uri: str,
    dataset: str,
    auth: tuple | None = None,
    prefixes: dict[str, str] | None = None,
) -> int:
    """Distributed facts sink: one named graph per conversation (graph
    IRI = doc_iri), PUT from the executors. Returns graphs written."""
    import pandas as pd

    px = prefixes or {}
    cfg = (base_uri, dataset, auth)

    kg_triples = merge_lang_columns(kg_triples)

    def put_group(pdf: pd.DataFrame) -> pd.DataFrame:
        client = FusekiClient(*cfg)
        conv_id = pdf["conv_id"].iloc[0]
        graph_iri = pdf["doc_iri"].iloc[0]
        triples = [
            (s, p, o, bool(lit), None if dt is None or pd.isna(dt) else dt)
            for s, p, o, lit, dt in zip(
                pdf["subj"], pdf["pred"], pdf["obj"],
                pdf["obj_is_literal"], pdf["obj_datatype"],
            )
        ]
        ok = client.put_graph(graph_iri, serialize_turtle(triples, px))
        return pd.DataFrame(
            {"conv_id": [conv_id], "graph_iri": [graph_iri],
             "n_triples": [len(triples)], "ok": [bool(ok)]}
        )

    report = kg_triples.groupBy("conv_id").applyInPandas(
        put_group,
        schema="conv_id string, graph_iri string, n_triples long, ok boolean",
    )
    return report.filter("ok").count()


def write_ontology_fuseki(
    alignments: DataFrame,
    onto_iri: str,
    base_uri: str,
    dataset: str,
    auth: tuple | None = None,
) -> bool:
    """Ontology sink (S9 analog of serialize_ontology): the deduped
    term-declaration graph is small — collect + one driver-side PUT."""
    rows = merge_lang_columns(alignments).select(
        "subj", "pred", "obj", "obj_is_literal", "obj_datatype"
    ).collect()
    triples = [
        (r[0], r[1], r[2], bool(r[3]), r[4]) for r in rows
    ]
    triples.append(
        (onto_iri, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         OWL_ONTOLOGY, False, None)
    )
    client = FusekiClient(base_uri, dataset, auth)
    return client.put_graph(onto_iri, serialize_turtle(triples))
