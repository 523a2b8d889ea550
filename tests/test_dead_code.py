"""Dead-code guard: every top-level ``def``/``class`` in the package must
be named somewhere besides its own definition.

Occurrences are counted as whole words across every tracked ``.py``
file of the repository (package, tests, scripts and perfbench
included), so a helper reached only from a test still counts as used.
A name found exactly once is its definition alone: delete it.
"""

import ast
import re
import subprocess
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ontocast_spark"


def _python_files() -> list[Path]:
    try:
        listed = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True,
            text=True, check=True,
        ).stdout.split()
        return [ROOT / p for p in listed]
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        return [
            p for p in ROOT.rglob("*.py")
            if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
        ]


def test_no_unreferenced_top_level_definitions():
    files = [p for p in _python_files() if p.is_file()]
    words = Counter()
    for p in files:
        words.update(re.findall(r"\w+", p.read_text(encoding="utf-8")))
    unused = []
    for p in sorted(f for f in files if f.is_relative_to(PACKAGE)):
        tree = ast.parse(p.read_text(encoding="utf-8"))
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and words[node.name] <= 1:
                unused.append(f"{p.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not unused, "defined but never referenced:\n" + "\n".join(unused)
