"""Dead-code guard: every top-level ``def``/``class`` in the package must
be reachable from the product surface.

The graph is built with ``ast`` alone (no Spark, no package import).
Nodes are the package's top-level definitions. A definition's edges are
the names its code uses: ``Name`` ids, ``Attribute`` attrs, imported
names and identifier-shaped string constants, read from its body,
defaults, bases and decorators. Docstrings and comments give no edges,
so a name mentioned only in prose does not keep a definition alive.
Edges resolve by name, so two definitions sharing a name are reached
together.

The roots are the product surface:

- module-level statements of package modules (the ``QUERIES``/``ORACLES``
  dicts, ``__all__``, imports, ``__main__`` blocks);
- every tracked ``.py`` outside ``ontocast_spark/`` and ``tests/`` that
  is not a ``test_*.py`` (``__spark_entry__.py``, ``perfbench/``,
  ``scripts/``, ``bench.py``);
- the ``[project.scripts]`` entry points of ``pyproject.toml``;
- ``ALLOWLIST``: documented API that nothing in the repository calls.

A definition reached only from ``tests/`` is dead: delete it, or, if it
is documented API, add one ``ALLOWLIST`` line giving the reason and the
doc anchor.
"""

import ast
import re
import subprocess
import tomllib
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ontocast_spark"

_CONNECTORS = "README.md#connectors--serving"
_TRAINING_OPS = "README.md#training-data-operators-first-class"
_PIPELINE = "README.md#pipeline"

# name -> (reason, doc anchor)
ALLOWLIST = {
    "write_facts_fuseki": ("Fuseki facts sink", _CONNECTORS),
    "write_ontology_fuseki": ("Fuseki ontology sink", _CONNECTORS),
    "register_bolt_client": ("live-Neo4j client hook", _CONNECTORS),
    "fetch_ontology_index": ("live-Neo4j ontology discovery", _CONNECTORS),
    "write_facts_neo4j": ("live-Neo4j facts sink", _CONNECTORS),
    "export_neo4j_admin_csv": ("Neo4j admin-import CSV export", _CONNECTORS),
    "write_ntriples": ("N-Triples writer", _CONNECTORS),
    "read_ntriples": ("N-Triples reader", _CONNECTORS),
    "register_converter": ("binary-document codec hook", _CONNECTORS),
    "read_binary_documents": ("binary-document reader", _CONNECTORS),
    "convert_documents": ("binary-document conversion", _CONNECTORS),
    "converted_to_conversations": ("binary documents as conversations", _CONNECTORS),
    "serve": ("HTTP server entry point", _CONNECTORS),
    "start_incremental_kg": ("watermarked stream to incremental KG", _TRAINING_OPS),
    "stream_conversations_from_files": ("turn stream source", _TRAINING_OPS),
    "brute_force_topk": ("exact cosine top-k", _TRAINING_OPS),
    "ivf_topk": ("IVF-bucketed ANN", _TRAINING_OPS),
    "sample_deterministic": ("partition-invariant sampling", _TRAINING_OPS),
    "bgp_ask": ("programmatic BGP ASK", _TRAINING_OPS),
    "register_service_client": ("test-fake seam for SERVICE", "README.md#sparql-as-text"),
    "register_media_decoder": ("test-fake seam for media decode", _TRAINING_OPS),
    "chunk_documents": ("staged reference chain of the fused kernel", _PIPELINE),
    "extract_triples": ("staged reference chain of the fused kernel", _PIPELINE),
    "canonicalize_combined": ("staged reference chain of the fused kernel", _PIPELINE),
    "gen_corpus": ("synthetic corpus the tests build on", "tests/test_snapshot.py"),
    "__getattr__": ("PEP 562 hook behind the lazy package exports", _PIPELINE),
    "_combine_sentences": (
        "reference of the windowed hash embedder",
        "tests/test_kernels_golden.py::test_hash_embed_windows_matches_naive_combine",
    ),
}

_TOP_LEVEL = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IDENT = re.compile(r"[A-Za-z_]\w*")


def _python_files() -> list[Path]:
    try:
        listed = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True,
            text=True, check=True,
        ).stdout.split()
        files = [ROOT / p for p in listed]
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        files = [
            p for p in ROOT.rglob("*.py")
            if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
        ]
    return [p for p in files if p.is_file()]


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the string constants that are docstrings."""
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_TOP_LEVEL)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                found.add(id(first.value))
    return found


def _names(nodes, docstrings: set[int]) -> set[str]:
    """Every name the code in ``nodes`` uses."""
    used = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.update(node.name.split("."))
            elif isinstance(node, ast.ImportFrom) and node.module:
                used.update(node.module.split("."))
            elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and id(node) not in docstrings and _IDENT.fullmatch(node.value)):
                used.add(node.value)
    return used


def _graph():
    """(definitions, edges, roots) of the package."""
    defs = defaultdict(list)  # name -> ["path:line", ...]
    edges = defaultdict(set)  # name -> names its definitions use
    roots = set(ALLOWLIST)
    for p in _python_files():
        rel = p.relative_to(ROOT)
        tree = ast.parse(p.read_text(encoding="utf-8"))
        docstrings = _docstrings(tree)
        if rel.parts[0] == PACKAGE.name:
            for node in tree.body:
                if isinstance(node, _TOP_LEVEL):
                    defs[node.name].append(f"{rel}:{node.lineno}")
                    edges[node.name] |= _names([node], docstrings)
                else:
                    roots |= _names([node], docstrings)
        elif rel.parts[0] != "tests" and not rel.name.startswith("test_"):
            roots |= _names([tree], docstrings)
    scripts = tomllib.loads((ROOT / "pyproject.toml").read_text())
    for target in scripts.get("project", {}).get("scripts", {}).values():
        roots |= set(_IDENT.findall(target))
    return defs, edges, roots


def test_no_unreferenced_top_level_definitions():
    defs, edges, roots = _graph()
    stale = sorted(set(ALLOWLIST) - set(defs))
    assert not stale, f"ALLOWLIST names no package definition: {stale}"
    reached, todo = set(), [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(n for n in edges[name] if n in defs and n not in reached)
    dead = sorted(
        loc + " " + name
        for name, locs in defs.items() if name not in reached for loc in locs
    )
    assert not dead, (
        "reached only from tests (delete, or add an ALLOWLIST line):\n"
        + "\n".join(dead)
    )

