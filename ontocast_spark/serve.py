"""HTTP serve mode: the reference's MCP-style request lifecycle
(/root/reference/ontocast/cli/serve.py:64-230 — Robyn app with
GET /health, GET /info, POST /process) re-expressed over the Spark
pipeline with stdlib ``http.server`` (no web framework in this env).

POST /process accepts ``application/json`` ``{"text": ...}`` (the
reference's input.json payload) or ``text/plain`` bodies, runs the full
KG pipeline on a single-document conversation, and returns the MCP
response shape: ``{"status": "success", "data": {"facts": <turtle>,
"ontology": <turtle>}, "metadata": {...}}``.

``/sparql`` speaks the SPARQL 1.1 Protocol over the server's
accumulated KG (the reference delegates this role to Fuseki): GET with
``?query=``, POST with ``application/sparql-query`` /
``application/sparql-update`` / form-encoded bodies; SELECT answers in
the SPARQL Query Results JSON format, ASK as ``{"boolean": ...}``,
CONSTRUCT/DESCRIBE as ``text/turtle``, updates mutate the store.
Facts from each /process call accumulate into the same store, so the
reference's process -> store -> query lifecycle round-trips against
one server — and :func:`plans.sparql.sparql`'s ``SERVICE`` clause can
federate INTO this endpoint.

This is the *interactive* lifecycle — one document per request through
the same SparkSession (requests serialize on a lock; Spark's scheduler
is thread-safe but per-request isolation keeps latency predictable).
The batch CLI (cli.py) and Structured Streaming (streaming/stream.py)
remain the 100-TB paths; serve mode exists for request/response parity
with the reference.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

INFO = {
    "name": "ontocast-spark",
    "version": "0.3.0",
    "description": "PySpark-native ontology-assisted KG construction",
    "capabilities": ["text-to-triples", "ontology-extraction",
                     "sparql-protocol", "graph-store-protocol"],
    "input_types": ["text", "json"],
    "output_types": ["turtle", "json"],
    "engine": "pyspark",
}


def process_text(
    spark: SparkSession, text: str, index=None, max_chunks: int | None = None,
    with_rows: bool = False,
):
    """One-document run -> MCP result dict (facts + ontology Turtle).
    With ``with_rows=True`` returns ``(dict, fact_rows)`` so the serve
    handler can accumulate the facts into its query store (the
    reference's lifecycle: process -> store to the triple store ->
    query, cli/serve.py:64-230 + fuseki.py)."""
    from .ontology import builtin_ontology_index
    from .pipeline import PipelineConfig, run_pipeline
    from .schemas import merge_lang_columns
    from .sources.turtle import serialize_turtle

    index = index or builtin_ontology_index()
    conv = spark.createDataFrame(
        [("req", 0, "user", text, None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = run_pipeline(
        spark, conv, index=index, config=PipelineConfig(max_chunks=max_chunks)
    )

    def rows_to_tuples(df):
        return [
            (r["subj"], r["pred"], r["obj"], bool(r["obj_is_literal"]),
             r["obj_datatype"])
            for r in merge_lang_columns(df).select(
                "subj", "pred", "obj", "obj_is_literal", "obj_datatype"
            ).collect()
        ]

    facts = rows_to_tuples(out["kg_triples"])
    onto = rows_to_tuples(out["ontology_alignments"])
    result = {
        "status": "success",
        "data": {
            "facts": serialize_turtle(facts),
            "ontology": serialize_turtle(onto),
        },
        "metadata": {
            "status": "succeeded",
            "n_fact_triples": len(facts),
            "n_ontology_triples": len(onto),
        },
    }
    return (result, facts) if with_rows else result


_STORE_SCHEMA = (
    "subj string, pred string, obj string, obj_is_literal boolean, "
    "obj_datatype string, graph string"
)


def _norm_row(row) -> tuple:
    """Store rows are (subj, pred, obj, obj_is_literal, obj_datatype,
    graph); accept 5-tuples (default graph -> NULL) for callers that
    predate named-graph support."""
    row = tuple(row)
    return row + (None,) * (6 - len(row))

#: absolute-IRI detection for SPARQL JSON results typing: solution
#: values are lexical forms (term metadata does not survive projection),
#: so scheme-shaped values report as ``uri`` and the rest as ``literal``
_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://|^urn:")


def _json_results(df) -> dict:
    """DataFrame of solutions -> SPARQL 1.1 Query Results JSON."""
    cols = df.columns
    bindings = []
    for r in df.collect():
        b = {}
        for c in cols:
            v = r[c]
            if v is None:
                continue  # unbound: omitted from the binding object
            if isinstance(v, bool):
                # xsd:boolean lexical forms, not Python's True/False
                v = "true" if v else "false"
            else:
                v = str(v)
            b[c] = {
                "type": "uri" if _IRI_RE.match(v) else "literal",
                "value": v,
            }
        bindings.append(b)
    return {"head": {"vars": cols}, "results": {"bindings": bindings}}


def _graph_turtle(df) -> str:
    """CONSTRUCT/DESCRIBE graph DataFrame -> Turtle text. The graph
    carries term metadata when the store does; otherwise objects type
    by IRI shape."""
    from .sources.turtle import serialize_turtle

    has_meta = "obj_is_literal" in df.columns
    rows = []
    for r in df.collect():
        lit = bool(r["obj_is_literal"]) if has_meta \
            else not _IRI_RE.match(r["obj"] or "")
        dt = r["obj_datatype"] if has_meta else None
        rows.append((r["subj"], r["pred"], r["obj"], lit, dt))
    return serialize_turtle(rows)


def make_handler(spark: SparkSession, index=None, triples=None):
    """``triples`` seeds the server's SPARQL query store: a list of
    ``(subj, pred, obj, obj_is_literal, obj_datatype)`` rows or a
    DataFrame with those columns. /process results accumulate into the
    same store, mirroring the reference's process->Fuseki->query
    lifecycle. The store is driver-resident (interactive serve mode);
    the batch CLI + parquet + :func:`plans.sparql.sparql` remain the
    at-scale query path."""
    lock = threading.Lock()
    if triples is None:
        store: list = []
    elif isinstance(triples, list):
        store = [_norm_row(r) for r in triples]
    else:
        store = [
            _norm_row((
                r["subj"], r["pred"], r["obj"],
                bool(r["obj_is_literal"])
                if "obj_is_literal" in triples.columns
                else not _IRI_RE.match(r["obj"] or ""),
                r["obj_datatype"] if "obj_datatype" in triples.columns
                else None,
                r["graph"] if "graph" in triples.columns else None,
            ))
            for r in triples.collect()
        ]

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test servers
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _reply_raw(self, code: int, body: str, ctype: str) -> None:
            data = body.encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _store_df(self):
            return spark.createDataFrame(store, _STORE_SCHEMA)

        def _sparql(self, qtext: str) -> None:
            """Evaluate one SPARQL Protocol operation against the
            store and reply in the matching result format."""
            from .plans.sparql import parse_sparql, sparql

            try:
                form = parse_sparql(qtext).form
                with lock:
                    out = sparql(self._store_df(), qtext)
                    if form in ("insert_data", "delete", "modify"):
                        rows = [
                            (r["subj"], r["pred"], r["obj"],
                             r["obj_is_literal"], r["obj_datatype"],
                             r["graph"])
                            for r in out.collect()
                        ]
                        store[:] = rows
                        self._reply(
                            200,
                            {"status": "success", "n_triples": len(rows)},
                        )
                        return
                if form == "ask":
                    self._reply(200, {"head": {}, "boolean": bool(out)})
                elif form in ("construct", "describe"):
                    self._reply_raw(200, _graph_turtle(out), "text/turtle")
                else:
                    self._reply(200, _json_results(out))
            except ValueError as e:  # SparqlSyntaxError
                self._reply(
                    400,
                    {"status": "error", "error": str(e),
                     "error_type": "SparqlSyntaxError"},
                )
            except Exception as e:  # pragma: no cover
                self._reply(
                    500,
                    {"status": "error", "error": str(e),
                     "error_type": type(e).__name__},
                )

        @staticmethod
        def _route(path: str) -> str | None:
            """Last path segment when it names a protocol service —
            bare (``/sparql``) or dataset-scoped (``/ds/sparql``), the
            layout :class:`sources.fuseki.FusekiClient` requests."""
            segs = [s for s in path.split("/") if s]
            if segs and len(segs) <= 2 and segs[-1] in (
                "sparql", "data", "get"
            ):
                return segs[-1]
            return None

        def _graph_param(self, query: str) -> str | None:
            from urllib.parse import parse_qs

            g = parse_qs(query).get("graph", [None])[0]
            return None if g in (None, "default") else g

        def do_GET(self):
            from urllib.parse import parse_qs, urlsplit

            parts = urlsplit(self.path)
            op = self._route(parts.path)
            if parts.path == "/health":
                try:
                    spark.sql("SELECT 1").collect()
                    self._reply(200, {"status": "healthy"})
                except Exception as e:  # pragma: no cover
                    self._reply(500, {"status": "unhealthy", "error": str(e)})
            elif parts.path == "/info":
                self._reply(200, INFO)
            elif op == "sparql":
                q = parse_qs(parts.query).get("query")
                if not q:
                    self._reply(
                        400,
                        {"status": "error",
                         "error": "missing query parameter",
                         "error_type": "ValidationError"},
                    )
                else:
                    self._sparql(q[0])
            elif op in ("get", "data"):
                # Graph Store Protocol GET (Fuseki also serves the
                # legacy /get endpoint the reference's client reads)
                from .sources.turtle import serialize_turtle

                g = self._graph_param(parts.query)
                with lock:
                    rows = [r[:5] for r in store if r[5] == g]
                if g is not None and not rows:
                    self._reply(
                        404, {"status": "error", "error": "no such graph"}
                    )
                else:
                    self._reply_raw(
                        200, serialize_turtle(rows), "text/turtle"
                    )
            else:
                self._reply(404, {"status": "error", "error": "not found"})

        def do_PUT(self):
            """Graph Store Protocol PUT: replace a named graph (or the
            default graph) with the Turtle body — what
            write_facts_fuseki / write_ontology_fuseki emit per
            conversation."""
            from urllib.parse import urlsplit

            from .sources.turtle import parse_turtle

            parts = urlsplit(self.path)
            if self._route(parts.path) != "data":
                self._reply(404, {"status": "error", "error": "not found"})
                return
            raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            try:
                new, _ = parse_turtle(raw.decode("utf-8"))
            except Exception as e:
                self._reply(
                    400,
                    {"status": "error", "error": str(e),
                     "error_type": "TurtleParseError"},
                )
                return
            g = self._graph_param(parts.query)
            with lock:
                existed = any(r[5] == g for r in store)
                store[:] = [r for r in store if r[5] != g] \
                    + [(s, p, o, lit, dt, g) for s, p, o, lit, dt in new]
            self._reply(
                200 if existed else 201,
                {"status": "success", "n_triples": len(new)},
            )

        def do_DELETE(self):
            """Graph Store Protocol DELETE: drop a named graph (or
            clear the default graph)."""
            from urllib.parse import urlsplit

            parts = urlsplit(self.path)
            if self._route(parts.path) != "data":
                self._reply(404, {"status": "error", "error": "not found"})
                return
            g = self._graph_param(parts.query)
            with lock:
                existed = any(r[5] == g for r in store)
                store[:] = [r for r in store if r[5] != g]
            if g is not None and not existed:
                self._reply(404, {"status": "error",
                                  "error": "no such graph"})
            else:
                self._reply(200, {"status": "success"})

        def do_POST(self):
            from urllib.parse import urlsplit

            parts = urlsplit(self.path)
            op = self._route(parts.path)
            ctype = (self.headers.get("Content-Type") or "").split(";")[0]
            raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if op == "data":
                # Graph Store Protocol POST: merge into the graph
                from .sources.turtle import parse_turtle

                try:
                    new, _ = parse_turtle(raw.decode("utf-8"))
                except Exception as e:
                    self._reply(
                        400,
                        {"status": "error", "error": str(e),
                         "error_type": "TurtleParseError"},
                    )
                    return
                g = self._graph_param(parts.query)
                with lock:
                    seen = {(r[0], r[1], r[2]) for r in store if r[5] == g}
                    added = [
                        (s, p, o, lit, dt, g)
                        for s, p, o, lit, dt in new
                        if (s, p, o) not in seen
                    ]
                    store.extend(added)
                self._reply(
                    200, {"status": "success", "n_triples": len(added)}
                )
                return
            if op == "sparql":
                # SPARQL 1.1 Protocol: direct POST or form-encoded
                if ctype in ("application/sparql-query",
                             "application/sparql-update"):
                    self._sparql(raw.decode("utf-8", errors="replace"))
                elif ctype == "application/x-www-form-urlencoded":
                    from urllib.parse import parse_qs

                    params = parse_qs(raw.decode("utf-8", errors="replace"))
                    op = params.get("query") or params.get("update")
                    if not op:
                        self._reply(
                            400,
                            {"status": "error",
                             "error": "missing query/update parameter",
                             "error_type": "ValidationError"},
                        )
                    else:
                        self._sparql(op[0])
                else:
                    self._reply(
                        400,
                        {"status": "error",
                         "error": f"Unsupported content type: {ctype}",
                         "error_type": "ValidationError"},
                    )
                return
            if self.path != "/process":
                self._reply(404, {"status": "error", "error": "not found"})
                return
            if ctype == "application/json":
                try:
                    text = json.loads(raw.decode("utf-8")).get("text", "")
                except Exception as e:
                    self._reply(
                        400,
                        {"status": "error", "error": str(e),
                         "error_type": "ValidationError"},
                    )
                    return
            elif ctype.startswith("text/"):
                text = raw.decode("utf-8", errors="replace")
            else:
                self._reply(
                    400,
                    {"status": "error",
                     "error": f"Unsupported content type: {ctype}",
                     "error_type": "ValidationError"},
                )
                return
            try:
                with lock:
                    result, rows = process_text(
                        spark, text, index=index, with_rows=True
                    )
                    # queryable via /sparql (default graph)
                    store.extend(_norm_row(r) for r in rows)
                self._reply(200, result)
            except Exception as e:  # pragma: no cover
                self._reply(
                    500,
                    {"status": "error", "error": str(e),
                     "error_type": type(e).__name__},
                )

    return Handler


def serve(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 8999,
    index=None, triples=None,
) -> ThreadingHTTPServer:
    """Start the HTTP server (non-blocking; returns the server — call
    ``.shutdown()`` to stop). CLI: ``python -m ontocast_spark.serve``."""
    server = ThreadingHTTPServer(
        (host, port), make_handler(spark, index, triples=triples)
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server


def main(argv=None) -> None:  # pragma: no cover
    import argparse

    from .session import build_spark

    ap = argparse.ArgumentParser(description="ontocast_spark serve mode")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8999)
    ap.add_argument("--ontology-dir", default=None)
    ap.add_argument(
        "--triples", default=None,
        help="parquet path of (subj, pred, obj[, obj_is_literal, "
        "obj_datatype, graph]) rows to seed the SPARQL/Graph-Store "
        "endpoints with",
    )
    args = ap.parse_args(argv)
    index = None
    if args.ontology_dir:
        from .sources.documents import load_ontology_dir

        index = load_ontology_dir(args.ontology_dir)
    spark = build_spark(app_name="ontocast-serve")
    triples = spark.read.parquet(args.triples) if args.triples else None
    server = ThreadingHTTPServer(
        (args.host, args.port),
        make_handler(spark, index, triples=triples),
    )
    print(f"serving on http://{args.host}:{args.port}")
    server.serve_forever()


if __name__ == "__main__":  # pragma: no cover
    main()
