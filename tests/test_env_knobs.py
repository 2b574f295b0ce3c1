"""The environment variables ``huckli_spark`` reads are its deployment
settings and nothing else.

A knob that only a test or a one-off probe sets is a second code path
no query selects. This scan parses every module and resolves each
environment read — ``os.environ.get``, ``os.environ[...]``, ``in
os.environ``, ``getenv`` — to its variable name, following names bound
to module-level string constants. A read whose name is not a constant
string fails the scan too.
"""

from __future__ import annotations

import ast
import os

import huckli_spark

PKG_DIR = os.path.dirname(os.path.abspath(huckli_spark.__file__))

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_MASTER",
    "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_SCRATCH",
    "HUCKLI_SPARK_ENUM_OVERRIDES",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_keys(tree: ast.Module):
    """Yield the key expression of every environment read in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            getenv = (isinstance(f, ast.Attribute) and f.attr == "getenv") or (
                isinstance(f, ast.Name) and f.id == "getenv"
            )
            method = isinstance(f, ast.Attribute) and _is_environ(f.value)
            if getenv or method:
                yield node.args[0] if node.args else node
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            yield node.slice
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            yield node.left


def _env_reads() -> dict[str, set[str]]:
    """Variable name -> the modules that read it."""
    reads: dict[str, set[str]] = {}
    for root, _, files in os.walk(PKG_DIR):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            consts = {
                t.id: node.value.value
                for node in tree.body
                if isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)
                for t in node.targets
                if isinstance(t, ast.Name)
            }
            for key in _env_keys(tree):
                if isinstance(key, ast.Constant) and isinstance(key.value, str):
                    name = key.value
                elif isinstance(key, ast.Name) and key.id in consts:
                    name = consts[key.id]
                else:
                    name = f"<unresolved: {ast.unparse(key)}>"
                reads.setdefault(name, set()).add(os.path.relpath(path, PKG_DIR))
    return reads


def test_env_reads_are_the_deployment_settings():
    reads = _env_reads()
    extra = {n: sorted(m) for n, m in reads.items() if n not in DEPLOYMENT_SETTINGS}
    assert not extra, f"environment reads outside the deployment settings: {extra}"
    # the scan is not vacuous: it resolves every setting, including
    # the multi-line read in operators/cache.py
    assert set(reads) == DEPLOYMENT_SETTINGS
    assert reads["SPARK_GRAFT_SCRATCH"] == {os.path.join("operators", "cache.py")}
