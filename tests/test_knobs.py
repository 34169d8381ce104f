"""Static guard: the engine derives its scale levers from the
deployment (master URL, checkpoint directory, Spark's own confs,
Catalyst size estimates) instead of private knobs. Every private knob
is one more configuration no oracle checks, so none may come back
without this test being changed on purpose."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "trading212_etl_spark"

# Deployment settings (cores, driver heap) and the pair-bound lever
# that two callers set to different values.
ALLOWED_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_PAIRS_TOP_K"}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_keys(tree: ast.AST):
    """Keys of every environment read: ``environ.get/pop/setdefault``,
    ``getenv``, ``environ[...]`` and ``... in environ``. A key that is
    not a string literal is reported as ``<dynamic>``."""
    for node in ast.walk(tree):
        f = getattr(node, "func", None)
        if isinstance(f, ast.Attribute) and (
            f.attr == "getenv"
            or (f.attr in ("get", "pop", "setdefault") and _is_environ(f.value))
        ):
            key = node.args[0] if node.args else None
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            key = node.left
        else:
            continue
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield node.lineno, key.value
        else:
            yield node.lineno, "<dynamic>"


def test_engine_reads_no_private_knobs():
    sources = sorted(PACKAGE.rglob("*.py"))
    assert sources, PACKAGE
    bad = []
    for path in sources:
        text = path.read_text()
        rel = path.relative_to(PACKAGE.parent)
        for i, line in enumerate(text.splitlines(), 1):
            if "spark.trading212." in line:
                bad.append(f"{rel}:{i}: private session conf: {line.strip()}")
        for lineno, key in _env_keys(ast.parse(text)):
            if key not in ALLOWED_ENV:
                bad.append(f"{rel}:{lineno}: env var {key}")
    assert not bad, "\n".join(bad)
