"""Knob census: the library reads the process environment only in
``session.py``, whose reads are deployment settings (cores, memory,
master, JVM flags). Any other read would be a tuning knob that switches a
code path behind the tests' back. The frontier's ``CrawlConfig`` and
``SeenState`` fields are pinned by name. Pure Python: parses the package
with ``ast`` and imports two modules; starts no Spark session."""

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


def test_frontier_config_fields_are_pinned():
    """Every CrawlConfig and SeenState field is a knob that multiplies the
    parity matrix: adding one has to edit this census. The bloom threshold
    ``SeenState.bloom_above_rows`` is a class constant, not a field."""
    from dataclasses import fields

    from warchaeology_spark.frontier.scheduler import CrawlConfig
    from warchaeology_spark.frontier.seen import SeenState

    assert [f.name for f in fields(CrawlConfig)] == [
        "max_rounds", "default_budget", "n_salts", "num_partitions",
        "expected_total", "store_root", "resume",
    ]
    assert [f.name for f in fields(SeenState)] == [
        "spark", "num_partitions", "expected_total", "fpp",
        "broadcast_max_delta",
    ]
