"""Publish-once lake fixtures for the lake-tagged queries.

A lake query reads tables that a recipe publishes first: creates,
commits, conversions, syncs. ``published`` turns such a recipe
``build(spark, sf_dir, root)`` into ``fixture(spark, sf_dir) -> root``
that publishes once and is reused by every later call, in this process
or another one (`bench.py`, the parity tests):

- **Key.** ``root`` is ``<tmp>/spark_graft_fixtures/<recipe>-<digest>``.
  The digest covers the path, mtime and size of every registered source
  table and the bytes of every ``.py`` file of the package, so a
  regenerated dataset, an edited recipe or an engine change each
  publish fresh.
- **Completeness.** A fixture counts as built only once the sibling
  marker ``<root>.published`` exists, and the marker is written only
  after the recipe returns. A publish that dies half-way leaves no
  marker, so the next call wipes ``root`` and runs the recipe again.
  The marker sits beside the table directory, never inside it, so the
  tables' own orphan-file and vacuum sweeps never see it.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import SparkSession

from march_mania_spark_lakehouse_spark import catalog

_PACKAGE_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def package_digest() -> str:
    """SHA-256 over the relative path and bytes of every ``.py`` file in
    the package, in path order; computed once per process."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(_PACKAGE_DIR):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, _PACKAGE_DIR).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def fixture_root(name: str, sf_dir: str) -> str:
    """The root that recipe ``name`` publishes to for the dataset in
    ``sf_dir`` under the current package code."""
    h = hashlib.sha256(package_digest().encode())
    for table in sorted(catalog.REGISTRY):
        path = os.path.abspath(catalog.REGISTRY[table].path(sf_dir))
        st = os.stat(path)
        h.update(f"{path}|{st.st_mtime_ns}|{st.st_size}\n".encode())
    return os.path.join(
        tempfile.gettempdir(),
        "spark_graft_fixtures",
        f"{name}-{h.hexdigest()[:16]}",
    )


def published(
    build: Callable[[SparkSession, str, str], None],
) -> Callable[[SparkSession, str], str]:
    """Publish ``build``'s tables under their root once; return the root."""

    @functools.wraps(build)
    def fixture(spark: SparkSession, sf_dir: str) -> str:
        root = fixture_root(build.__name__, sf_dir)
        marker = root + ".published"
        if not os.path.exists(marker):
            shutil.rmtree(root, ignore_errors=True)
            os.makedirs(os.path.dirname(root), exist_ok=True)
            build(spark, sf_dir, root)
            open(marker, "w").close()
        return root

    return fixture
