"""Every module of the package imports cleanly.

A module that still imports a deleted sibling fails here rather than at a
user's first import. Importing starts no Spark session: the modules only
define functions and register queries.
"""

from __future__ import annotations

import importlib
import pkgutil

import etl_pipeline_api_spark as pkg


def test_every_package_module_imports():
    # walk_packages yields a package before importing it, so one that fails
    # to import still reaches import_module below and fails there
    names = [m.name for m in pkgutil.walk_packages(pkg.__path__, f"{pkg.__name__}.")]
    for sub in ("operators", "sources", "plans", "streaming", "queries", "session"):
        assert f"{pkg.__name__}.{sub}" in names
    for name in names:
        importlib.import_module(name)
