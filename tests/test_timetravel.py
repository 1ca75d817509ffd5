"""Time travel (Catalog.read_version) via hardlink snapshots.

Delta parity: the reference reads DESCRIBE HISTORY after every merge
and managed Delta gives it VERSION AS OF for free; this catalog retains
hardlink snapshots of the pre-rewrite state (zero data copy) when
``retain_versions`` > 0. Default stays 0 — the original swap-and-delete.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog

D1, D2 = datetime.date(2023, 4, 1), datetime.date(2023, 4, 2)


def _mk(spark, *ids):
    return spark.createDataFrame([(i, D1) for i in ids], ["id", "run_date"])


def test_overwrite_retains_previous_versions(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=2)
    catalog.overwrite("silver", "t", _mk(spark, "a"))
    catalog.overwrite("silver", "t", _mk(spark, "b"))
    catalog.overwrite("silver", "t", _mk(spark, "c"))

    assert catalog.versions("silver", "t") == [0, 1]
    assert [r["id"] for r in catalog.read_version("silver", "t", 0).collect()] == ["a"]
    assert [r["id"] for r in catalog.read_version("silver", "t", 1).collect()] == ["b"]
    assert [r["id"] for r in catalog.read_version("silver", "t").collect()] == ["b"]
    assert [r["id"] for r in catalog.read("silver", "t").collect()] == ["c"]


def test_retention_prunes_oldest(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=1)
    for i in range(4):
        catalog.overwrite("silver", "t", _mk(spark, f"x{i}"))
    assert catalog.versions("silver", "t") == [2]
    assert [r["id"] for r in catalog.read_version("silver", "t").collect()] == ["x2"]
    with pytest.raises(FileNotFoundError, match="not retained"):
        catalog.read_version("silver", "t", 0)


def test_snapshots_are_hardlinks_not_copies(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=1)
    catalog.overwrite("silver", "t", _mk(spark, "a").coalesce(1))
    live = next(catalog.path("silver", "t").rglob("*.parquet"))
    ino_before = live.stat().st_ino
    catalog.overwrite("silver", "t", _mk(spark, "b"))
    snap = next((catalog._versions_dir("silver", "t") / "v0").rglob("*.parquet"))
    # the snapshot file IS the old live file (same inode, no data copy),
    # and deleting the live tree did not disturb it
    assert snap.stat().st_ino == ino_before
    assert [r["id"] for r in catalog.read_version("silver", "t", 0).collect()] == ["a"]


def test_partition_scoped_overwrite_snapshots_whole_table(spark, tmp_path):
    from bc_proj3_spark.operators import incremental as inc

    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=1)
    df = spark.createDataFrame(
        [("a", 1, D1), ("b", 1, D2)], ["id", "version", "run_date"]
    )
    catalog.overwrite("silver", "t", df, partition_by=["run_date"])
    src = spark.createDataFrame([("a", 2, D1)], ["id", "version", "run_date"])
    res = inc.merge_upsert(
        catalog.read("silver", "t"), src, key="id",
        update_when=F.col("src.version") > F.col("tgt.version"),
        partition_col="run_date",
    )
    catalog.overwrite_partitions("silver", "t", res.scoped_df, res.touched_partitions)
    res.cleanup()
    # live table has the update; the snapshot preserves BOTH partitions pre-merge
    assert {(r["id"], r["version"]) for r in catalog.read("silver", "t").collect()} \
        == {("a", 2), ("b", 1)}
    old = catalog.read_version("silver", "t", 0)
    assert {(r["id"], r["version"]) for r in old.collect()} == {("a", 1), ("b", 1)}


def test_append_snapshots_and_default_off(spark, tmp_path):
    on = Catalog(spark, str(tmp_path / "on"), retain_versions=1)
    on.overwrite("silver", "t", _mk(spark, "a"))
    # append returns the rows it wrote, counted by the write job
    assert on.append("silver", "t", _mk(spark, "b", "c")) == 2
    assert [r["id"] for r in on.read_version("silver", "t").collect()] == ["a"]
    assert sorted(r["id"] for r in on.read("silver", "t").collect()) == ["a", "b", "c"]

    off = Catalog(spark, str(tmp_path / "off"))  # default retain_versions=0
    off.overwrite("silver", "t", _mk(spark, "a"))
    off.overwrite("silver", "t", _mk(spark, "b"))
    assert off.versions("silver", "t") == []
    with pytest.raises(FileNotFoundError, match="no retained"):
        off.read_version("silver", "t")


def test_drop_removes_versions_and_listing_hides_internal_dirs(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=2)
    catalog.overwrite("silver", "t", _mk(spark, "a"))
    catalog.overwrite("silver", "t", _mk(spark, "b"))
    # _versions holds parquet files but must never appear as a table
    assert catalog.list_tables("silver") == ["t"]
    catalog.drop("silver", "t")
    assert catalog.versions("silver", "t") == []
    assert not catalog._versions_dir("silver", "t").exists()
    assert catalog.list_tables("silver") == []
