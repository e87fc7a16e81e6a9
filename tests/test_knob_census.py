"""Knob census: the library reads the process environment only in
``session.py``, whose reads are deployment settings (cores, memory,
master, JVM flags). Any other read would be a tuning knob that switches a
code path behind the tests' back. Pure Python: parses the package with
``ast``, starts no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "warchaeology_spark"
ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _env_reads(tree: ast.AST) -> list[int]:
    """Line numbers of ``<x>.environ``/``<x>.getenv`` attribute reads and
    ``from os import environ/getenv`` imports."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ENV_NAMES:
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ENV_NAMES for a in node.names):
                lines.append(node.lineno)
    return lines


def test_only_session_reads_the_environment():
    files = sorted(PKG.rglob("*.py"))
    assert PKG / "session.py" in files
    reads = {
        str(f.relative_to(PKG)): lines
        for f in files
        if (lines := _env_reads(ast.parse(f.read_text(), str(f))))
    }
    assert set(reads) == {"session.py"}, reads
