"""IndexStorage swap/heal crash-convergence: no crash point of swap() may
lose table data, and every access route must converge an interrupted swap
(the r05 hazard: rmtree-then-rename left a GAP where the table directory
did not exist at all, and compact's documented heal could not read it)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from clip_as_service_spark.sources.tables import IndexStorage


def _mk(spark, tmp_path, name="t"):
    store = IndexStorage(str(tmp_path / name))
    old = spark.range(5).select(F.col("id").alias("v"))
    new = spark.range(10, 17).select(F.col("id").alias("v"))
    store.write(old, "tbl")
    tmp = store.write_tmp(new, "tbl")
    return store, tmp


def test_swap_completes_and_cleans_up(spark, tmp_path):
    store, tmp = _mk(spark, tmp_path)
    store.swap("tbl", tmp)
    got = sorted(r["v"] for r in store.read(spark, "tbl").collect())
    assert got == list(range(10, 17))
    assert not os.path.exists(store.path("tbl") + "__old")
    assert not os.path.exists(os.path.join(store.root, tmp))


def test_swap_crash_between_renames_rolls_back(spark, tmp_path):
    """Simulated crash AFTER final→__old but BEFORE tmp→final: the final
    path is absent, yet the old data survives in __old. read()/exists()
    must heal by rolling back — the old table is always self-consistent,
    whereas adopting the tmp could pair a half-swapped multi-table
    retrain."""
    store, tmp = _mk(spark, tmp_path)
    final = os.path.join(store.root, "tbl")
    os.rename(final, final + "__old")  # the gap state, via raw os calls

    assert store.exists("tbl")  # heals: __old rolled back
    got = sorted(r["v"] for r in store.read(spark, "tbl").collect())
    assert got == list(range(5))
    assert not os.path.exists(final + "__old")
    # the interrupted swap can then be re-run to completion
    store.swap("tbl", tmp)
    got = sorted(r["v"] for r in store.read(spark, "tbl").collect())
    assert got == list(range(10, 17))


def test_swap_crash_after_second_rename_drops_leftover(spark, tmp_path):
    """Simulated crash after the new table is in place but before the
    __old cleanup: heal must DELETE __old (the final dir wins), not roll
    back over the new data."""
    store, tmp = _mk(spark, tmp_path)
    final = os.path.join(store.root, "tbl")
    # state: final = NEW data, __old = old data (cleanup never ran)
    shutil.copytree(final, final + "__old")
    shutil.rmtree(final)
    os.rename(os.path.join(store.root, tmp), final)

    got = sorted(r["v"] for r in store.read(spark, "tbl").collect())
    assert got == list(range(10, 17))
    assert not os.path.exists(final + "__old")


def test_write_meta_crash_keeps_old_meta(tmp_path, monkeypatch):
    """write_meta publishes by rename: a write that dies part-way leaves
    the previous _meta.json whole and no temp file behind."""
    import pathlib

    store = IndexStorage(str(tmp_path / "idx"))
    store.write_meta({"version": 1})

    def torn(self, text):
        with open(self, "w") as fh:
            fh.write(text[:3])
        raise OSError("disk full")

    monkeypatch.setattr(pathlib.Path, "write_text", torn)
    with pytest.raises(OSError, match="disk full"):
        store.write_meta({"version": 2})
    assert store.read_meta() == {"version": 1}
    assert os.listdir(store.root) == ["_meta.json"]
