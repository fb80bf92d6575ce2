"""`plans.fixtures.published`: the publish-once helper behind every
lake-query fixture. A half-done publish is never reused, a finished one
is never rebuilt, and the root moves with every input it depends on:
each registered source table and the package code."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from march_mania_spark_lakehouse_spark import catalog
from march_mania_spark_lakehouse_spark.plans import fixtures
from march_mania_spark_lakehouse_spark.plans.fixtures import published


@pytest.fixture()
def toy_sf(sf_dir, tmp_path, monkeypatch):
    """A private copy of the dataset, with fixture roots under tmp_path."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    dst = str(tmp_path / "sf")
    shutil.copytree(sf_dir, dst)
    return dst


def _counting_builder():
    calls = []

    def _toy_marker_file(spark, sf_dir, root):
        calls.append(root)
        os.makedirs(root)
        open(os.path.join(root, "data"), "w").close()

    return published(_toy_marker_file), calls


def test_crash_after_first_commit_is_rebuilt_not_reused(spark, toy_sf):
    from march_mania_spark_lakehouse_spark.sources import delta_log

    calls = []

    def _toy_two_commits(spark, sf_dir, root):
        calls.append(root)
        delta_log.create(spark.range(3), root)
        if len(calls) == 1:
            raise RuntimeError("publish died after its first commit")
        delta_log.append(spark.range(3, 5), root)

    fixture = published(_toy_two_commits)
    with pytest.raises(RuntimeError, match="first commit"):
        fixture(spark, toy_sf)
    root = fixtures.fixture_root("_toy_two_commits", toy_sf)
    assert delta_log.latest_version(root) == 0  # the half-built table
    assert not os.path.exists(root + ".published")
    # the next call wipes the half-built root (a second create over it
    # would refuse) and runs the whole recipe again
    assert fixture(spark, toy_sf) == root
    assert calls == [root, root]
    assert os.path.exists(root + ".published")
    assert delta_log.latest_version(root) == 1
    ids = sorted(r.id for r in delta_log.read_delta(spark, root).collect())
    assert ids == [0, 1, 2, 3, 4]


def test_marker_hit_does_not_build(toy_sf):
    fixture, calls = _counting_builder()
    root = fixture(None, toy_sf)
    assert fixture(None, toy_sf) == root
    assert calls == [root]
    # the marker sits beside the table directory, never inside it
    assert os.path.exists(root + ".published")
    assert os.listdir(root) == ["data"]


@pytest.mark.parametrize("table", sorted(catalog.REGISTRY))
def test_touching_any_source_table_gives_new_root(toy_sf, table):
    """Every registered table is an input, not only the one a recipe
    loads first: q210's fixture reads orders but was keyed on customer
    alone."""
    fixture, calls = _counting_builder()
    before = fixture(None, toy_sf)
    path = catalog.REGISTRY[table].path(toy_sf)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    after = fixture(None, toy_sf)
    assert after != before
    assert calls == [before, after]


def test_package_code_change_gives_new_root(toy_sf, monkeypatch):
    fixture, calls = _counting_builder()
    before = fixture(None, toy_sf)
    monkeypatch.setattr(fixtures, "package_digest", lambda: "edited engine")
    after = fixture(None, toy_sf)
    assert after != before
    assert calls == [before, after]
