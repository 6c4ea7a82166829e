"""Named refs (tags): immutability, GC-root semantics under vacuum,
resolution through read_table_tag, and error arms."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_spotify.warehouse import (
    commit_append,
    compact_table,
    drop_tag,
    list_tags,
    list_versions,
    read_table_tag,
    tag_version,
    vacuum_table,
)


@pytest.fixture()
def warehouse():
    path = tempfile.mkdtemp(prefix="spark_spotify_test_ref_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _two_batches(spark, warehouse):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    commit_append(df.filter(F.col("id") < 50), warehouse, "t", 1)
    commit_append(df.filter(F.col("id") >= 50), warehouse, "t", 2)


def test_tag_pins_version_and_survives_vacuum(spark, warehouse):
    _two_batches(spark, warehouse)
    v = tag_version(warehouse, "t", "rel", version=1)
    assert v == 1 and list_tags(warehouse, "t") == {"rel": 1}
    compact_table(spark, warehouse, "t", "z")
    removed = vacuum_table(warehouse, "t")
    # p1 protected by the tag; p2 only referenced by the untagged v2
    assert removed == ["p2"]
    got = read_table_tag(spark, warehouse, "t", "rel")
    assert got.count() == 50 and got.agg(F.max("id")).collect()[0][0] == 49
    # manifests: tagged v1 and live head survive, v2 expired
    assert 1 in list_versions(warehouse, "t")
    assert 2 not in list_versions(warehouse, "t")


def test_tag_is_immutable_and_droppable(spark, warehouse):
    _two_batches(spark, warehouse)
    tag_version(warehouse, "t", "rel")
    with pytest.raises(FileExistsError):
        tag_version(warehouse, "t", "rel", version=1)
    drop_tag(warehouse, "t", "rel")
    assert list_tags(warehouse, "t") == {}
    with pytest.raises(RuntimeError, match="no tag"):
        read_table_tag(spark, warehouse, "t", "rel")
    with pytest.raises(RuntimeError, match="no tag"):
        drop_tag(warehouse, "t", "rel")


def test_tag_name_and_version_validation(spark, warehouse):
    _two_batches(spark, warehouse)
    with pytest.raises(RuntimeError, match="invalid tag name"):
        tag_version(warehouse, "t", "../escape")
    with pytest.raises(RuntimeError, match="no committed version"):
        tag_version(warehouse, "t", "rel", version=99)


def test_failed_tag_write_leaves_no_ref(spark, warehouse, monkeypatch):
    """A claim whose content write fails leaves nothing behind: no empty
    ``_ref.<name>`` (it would break list_tags, and with it vacuum and
    read_table_tag, and block the name for good) and no ``_tmp.*`` file,
    which vacuum never reclaims.  A failed manifest commit likewise."""
    import builtins
    import os

    from spark_spotify.warehouse import commit, current_version

    _two_batches(spark, warehouse)
    tdir = os.path.join(warehouse, "t")

    class _Full:
        """A file handle whose writes fail, as on a full disk."""

        def __init__(self, fh):
            self.fh = fh

        def write(self, text):
            raise OSError(28, "No space left on device")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

    def full_disk(opener):
        def opened(file, mode="r", *a, **kw):
            fh = opener(file, mode, *a, **kw)
            return _Full(fh) if "w" in mode else fh

        return opened

    with monkeypatch.context() as mp:
        mp.setattr(builtins, "open", full_disk(builtins.open))
        mp.setattr(os, "fdopen", full_disk(os.fdopen))
        with pytest.raises(OSError, match="No space"):
            tag_version(warehouse, "t", "rel")
        with pytest.raises(OSError, match="No space"):
            commit(warehouse, "t")
    assert not [
        f for f in os.listdir(tdir) if f.startswith(("_ref.", "_tmp."))
    ]
    assert current_version(warehouse, "t") == 2
    assert list_tags(warehouse, "t") == {}
    assert vacuum_table(warehouse, "t") == []
    assert tag_version(warehouse, "t", "rel") == 2
    assert read_table_tag(spark, warehouse, "t", "rel").count() == 100
