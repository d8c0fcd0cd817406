"""Pins the set of environment variables the engine and its tooling
read, without Spark: every ``os.environ`` / ``os.getenv`` read under
propius_spark/, in bench.py and in scripts/ is found by walking the
sources' syntax trees. A new knob has to be added to EXPECTED or
TOOLING_EXPECTED here, so it shows up in review as an edit to this
file."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ENGINE = REPO / "propius_spark"

EXPECTED = {
    "SPARK_GRAFT_CPUS",
    "PROPIUS_SHUFFLE_PARTITIONS",
    "PROPIUS_DRIVER_MEM",
    "PROPIUS_CHECKPOINT_DIR",
}

# the engine's own knobs (SPARK_GRAFT_CPUS, PROPIUS_DRIVER_MEM, ...) are
# read once, by get_spark; the tooling must not read them again
TOOLING_EXPECTED = {
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_SECONDARY_SF_DIR",
    "SPARK_LOCAL_DIRS",
    "PROPIUS_ORACLE_SF_DIR",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _name(node: ast.AST, where: str) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal name at {where}>"


def env_reads(tree: ast.AST, filename: str) -> set[str]:
    """Names read from the environment in one module. A read whose
    name is not a string literal, or any other touch of ``environ``,
    is reported as a placeholder so it cannot slip past the pin."""
    names: set[str] = set()
    seen: set[int] = set()
    for node in ast.walk(tree):
        where = f"{filename}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if f.attr in ("get", "setdefault", "pop") and _is_environ(f.value):
                seen.add(id(f.value))
                names.add(_name(node.args[0], where) if node.args else where)
            elif f.attr == "getenv":
                names.add(_name(node.args[0], where) if node.args else where)
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            if node.func.id == "getenv":
                names.add(_name(node.args[0], where) if node.args else where)
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            seen.add(id(node.value))
            names.add(_name(node.slice, where))
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            for c in node.comparators:
                seen.add(id(c))
            names.add(_name(node.left, where))
    for node in ast.walk(tree):
        if _is_environ(node) and id(node) not in seen:
            names.add(f"<other environ use at {filename}:{node.lineno}>")
    return names


def test_engine_env_knobs_are_pinned():
    found: set[str] = set()
    for path in sorted(ENGINE.rglob("*.py")):
        rel = str(path.relative_to(ENGINE.parent))
        found |= env_reads(ast.parse(path.read_text(), rel), rel)
    assert found == EXPECTED


def test_tooling_env_names_are_pinned():
    found: set[str] = set()
    for path in [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py"))]:
        rel = str(path.relative_to(REPO))
        found |= env_reads(ast.parse(path.read_text(), rel), rel)
    assert found == TOOLING_EXPECTED


def test_env_reads_scanner_sees_every_form():
    src = (
        "import os\n"
        "a = os.environ.get('A')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C', 'x')\n"
        "d = 'D' in os.environ\n"
        "e = os.environ.get(\n    'E',\n    '1',\n)\n"
        "env = dict(os.environ)\n"
    )
    got = env_reads(ast.parse(src), "m.py")
    assert {"A", "B", "C", "D", "E"} <= got
    assert "<other environ use at m.py:10>" in got
