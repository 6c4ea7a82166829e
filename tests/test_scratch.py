"""The scratch-dir lifecycle (spark_spotify/functions/scratch.py): drill
scratch is removed however the block exits, every scratch dir carries the
prefix the orphan sweep reclaims, and a session cache whose dir was swept
rebuilds instead of handing out a dead path."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from spark_spotify.functions import scratch as S


@pytest.fixture
def tmpdir_root(tmp_path, monkeypatch):
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    return tmp_path


def test_scratch_is_removed_on_exit_and_on_error(tmpdir_root):
    with S.scratch("ok") as w:
        open(os.path.join(w, "f"), "w").close()
        assert os.path.isdir(w)
    assert not os.path.exists(w)
    with pytest.raises(RuntimeError):
        with S.scratch("boom") as w2:
            raise RuntimeError("drill failed")
    assert not os.path.exists(w2)


def test_every_scratch_dir_is_one_the_sweep_reclaims(tmpdir_root):
    with S.scratch("drill") as w:
        kept = S.session_scratch("cache")
        for d in (w, kept):
            assert os.path.dirname(d) == str(tmpdir_root)
            assert os.path.basename(d).startswith(S.PREFIX)
        later = time.time() + 2 * S.MAX_AGE_S
        assert sorted(S.sweep_orphaned_tmp(now=later)) == sorted([w, kept])


def test_keep_alive_refreshes_or_reports_a_miss(tmpdir_root):
    d = S.session_scratch("cache")
    stale = time.time() - 2 * S.MAX_AGE_S
    os.utime(d, (stale, stale))
    assert S.keep_alive(d)
    assert os.stat(d).st_mtime > stale
    assert S.sweep_orphaned_tmp() == []
    shutil.rmtree(d)
    assert not S.keep_alive(d)


def _warehouse_case():
    from spark_spotify.etl import pipeline as P

    return (
        P.q_time_travel,
        P._WAREHOUSE_CACHE,
        lambda spark, sf: sf,
        lambda hit: hit[0],
    )


def _bloom_case():
    from spark_spotify.etl import pipeline as P

    return (
        P.q_bloom_skipping,
        P._BLOOM_GATE_CACHE,
        lambda spark, sf: (spark.sparkContext.applicationId, sf),
        lambda hit: hit[0],
    )


def _index_case():
    from spark_spotify.analytics import neardup as N

    return (
        N.q_dedup_incremental,
        N._INDEX_CACHE,
        lambda spark, sf: sf,
        lambda hit: hit,
    )


@pytest.mark.parametrize(
    "case", [_warehouse_case, _bloom_case, _index_case],
    ids=["warehouse", "bloom_gate", "dedup_index"],
)
def test_gate_rebuilds_a_swept_session_cache(spark, sf_dir, tmp_path, case):
    """A concurrent process's sweep (or anything else) removed a cached
    session dir: the next call of the gate rebuilds it and returns the
    same rows."""
    gate, cache, key_of, dir_of = case()
    alias = tmp_path / "sf"  # a cache key of this test's own
    alias.symlink_to(sf_dir)
    sf = str(alias)
    want = sorted(map(tuple, gate(spark, sf).collect()))
    swept = dir_of(cache[key_of(spark, sf)])
    shutil.rmtree(swept)
    got = sorted(map(tuple, gate(spark, sf).collect()))
    assert got == want
    assert os.path.isdir(dir_of(cache[key_of(spark, sf)]))
