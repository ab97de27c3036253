"""The engine reads only deployment and measurement settings from the
environment: no tuning knob may come back as an env var."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "nexgap_spark"

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_MASTER",
    "SPARK_CONNECT_MODE_ENABLED",
    "AGENT_EXECUTION_TIMEOUT",
    # q45's hyperplane count: 8 at sf0.1, 14 for the ×100 ANN run (SCALE.md)
    "NEXGAP_Q45_PLANES",
}


def _is_environ(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _key(node: ast.AST | None) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<non-literal key>"


def env_reads(tree: ast.AST) -> set[str]:
    """Names read through ``os.environ.get/setdefault/[...]``,
    ``os.getenv`` or an ``in os.environ`` test."""
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr in ("get", "setdefault") and _is_environ(f.value)) or (
                f.attr == "getenv"
            ):
                found.add(_key(node.args[0] if node.args else None))
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            found.add(_key(node.slice))
        elif isinstance(node, ast.Compare) and any(
            isinstance(op, (ast.In, ast.NotIn)) for op in node.ops
        ) and any(_is_environ(c) for c in node.comparators):
            found.add(_key(node.left))
    return found


def test_env_reads_are_allowlisted():
    # the finder sees every read form the package could use
    sample = (
        "import os\nimport os as _os\n"
        "a = os.environ.get('A', '1')\n"
        "b = _os.environ.get('B')\n"
        "c = os.getenv('C')\n"
        "d = os.environ['D']\n"
        "e = 'E' in os.environ\n"
        "f = 'F' not in os.environ\n"
        "g = os.environ.get(name)\n"
        "h = os.environ.setdefault('H', '1')\n"
    )
    assert env_reads(ast.parse(sample)) == {
        "A", "B", "C", "D", "E", "F", "H", "<non-literal key>",
    }

    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        found |= env_reads(ast.parse(path.read_text(), filename=str(path)))
    assert found == ALLOWED
