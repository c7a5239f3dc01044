"""A copied or moved ``.fixtures/`` cache still gives the right rows.

The streaming fixtures keep absolute paths: a file sink's
``_spark_metadata`` log names every part file as ``file:///…`` and each
checkpoint names its source files. Read from anywhere else, the sink
log lists nothing, so a fixture trusted across a move reads as empty
(``stream_hopping_replay`` failed with "Unable to infer schema for
Parquet"). The fixture tag carries the resolved root, so a moved cache
is rebuilt where it now lives, and a digest of the package source, so
a cache written by older code is rebuilt too.
"""

from __future__ import annotations

import shutil

import pytest

from bio_lakehouse_spark.suite import pipeline_queries as pq
from bio_lakehouse_spark.suite.registry import REGISTRY

HOPPING_ROWS = 1950  # hopping_window_counts at sf0.001


def _place_root(monkeypatch, d):
    monkeypatch.setattr(pq, "_FIXTURE_ROOT", d)


def _place_source(monkeypatch, d):
    d.mkdir()
    (d / "session.py").write_text(f"CONF = {d.name!r}\n")
    monkeypatch.setattr(pq, "_PACKAGE_DIR", d)


@pytest.mark.parametrize(
    "place", [_place_root, _place_source], ids=["root", "source"]
)
def test_tag_follows_the_fixture_root(place, tmp_path, monkeypatch, sf_dir):
    """The tag changes with the fixture root and with the package
    source (a conf edited in ``session.py`` rewrites fixture bytes)."""
    place(monkeypatch, tmp_path / "a")
    tag_a = pq._sf_tag(sf_dir)
    assert pq._sf_tag(sf_dir) == tag_a
    place(monkeypatch, tmp_path / "b")
    assert pq._sf_tag(sf_dir) != tag_a


def test_moved_streaming_fixture_keeps_its_rows(spark, tmp_path, monkeypatch, sf_dir):
    if not sf_dir.endswith("sf0.001"):
        pytest.skip("row count pinned at sf0.001")
    query = REGISTRY["stream_hopping_replay"].fn
    first = tmp_path / "first" / ".fixtures"
    monkeypatch.setattr(pq, "_FIXTURE_ROOT", first)
    assert query(spark, sf_dir).count() == HOPPING_ROWS
    moved = tmp_path / "moved" / ".fixtures"
    moved.parent.mkdir()
    shutil.move(first, moved)
    monkeypatch.setattr(pq, "_FIXTURE_ROOT", moved)
    assert query(spark, sf_dir).count() == HOPPING_ROWS
    built = sorted(p.name for p in moved.iterdir())
    assert len(built) == 2 and all(pq._sf_tag(sf_dir) in n for n in built)
