"""A star import of each package binds every name its __init__
imports. Planning-free - no SparkSession is started."""

import ast
import importlib
import os

import pytest

PACKAGES = [
    "seqtables_spark",
    "seqtables_spark.functions",
    "seqtables_spark.operators",
    "seqtables_spark.pipeline",
]


def _imported_names(package: str) -> set[str]:
    path = os.path.join(
        os.path.dirname(importlib.import_module(package).__file__), "__init__.py"
    )
    tree = ast.parse(open(path).read())
    return {
        alias.asname or alias.name
        for node in tree.body
        if isinstance(node, ast.ImportFrom)
        for alias in node.names
    }


@pytest.mark.parametrize("package", PACKAGES)
def test_star_import_binds_every_imported_name(package):
    names = _imported_names(package)
    assert names, f"{package} imports nothing"
    ns: dict = {}
    exec(f"from {package} import *", ns)
    assert sorted(names - set(ns)) == []
