"""The package reads only deployment and path settings from the
environment. Behaviour is chosen by arguments, not env switches, so
every environment variable the package reads must be listed here."""

from __future__ import annotations

import ast
import pathlib

import env_event_stream_spark

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_PLAIN_SESSION",
    "SPARK_GRAFT_EXTRA_CONF",
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_ORACLE_SF_DIR",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_reads(tree: ast.AST):
    """Yield the name argument of every environment read in ``tree``:
    ``environ.get(k)``, ``environ[k]``, ``getenv(k)``, ``k in environ``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if (isinstance(f, ast.Attribute) and f.attr in ("get", "setdefault")
                    and _is_environ(f.value)) or (
                isinstance(f, (ast.Attribute, ast.Name))
                and getattr(f, "attr", getattr(f, "id", None)) == "getenv"
            ):
                yield node.args[0]
        elif isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load):
            if _is_environ(node.value):
                yield node.slice
        elif isinstance(node, ast.Compare) and len(node.ops) == 1:
            if isinstance(node.ops[0], (ast.In, ast.NotIn)) and _is_environ(node.comparators[0]):
                yield node.left


def test_env_reads_are_deployment_settings_only():
    root = pathlib.Path(env_event_stream_spark.__file__).parent
    names, non_literal = set(), []
    for path in sorted(root.rglob("*.py")):
        for key in _env_reads(ast.parse(path.read_text(), str(path))):
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                names.add(key.value)
            else:
                non_literal.append(f"{path.relative_to(root)}:{key.lineno}")
    assert not non_literal, f"env var name is not a string literal: {non_literal}"
    assert names == ALLOWED


def test_scanner_sees_every_read_form():
    src = (
        "import os\nfrom os import environ, getenv\n"
        "os.environ.get('A'); os.environ['B']; os.getenv('C'); 'D' in os.environ\n"
        "environ.get('E'); getenv('F'); os.environ.setdefault('G', '1')\n"
        "os.environ['W'] = '1'\n"
    )
    got = {k.value for k in _env_reads(ast.parse(src))}
    assert got == set("ABCDEFG")
