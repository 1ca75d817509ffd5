"""Structured Streaming layer tests: exactly-once incremental silver.

st1 (the registered windowed-agg streaming query) is covered by
test_correctness.py via the registry; here we pin the foreachBatch
streaming silver: one-pass processing of the backlog, merge semantics,
and checkpointed exactly-once across restarts.
"""

from __future__ import annotations

import pytest

from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.io import sources
from bc_proj3_spark.streaming.incremental import stream_silver_arxiv


@pytest.fixture()
def env(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    catalog = Catalog(spark, str(tmp_path / "warehouse"))
    return landing, ckpt, catalog


def test_stream_silver_exactly_once(spark, env):
    landing, ckpt, catalog = env
    sources.fetch_arxiv("20230401", landing, epoch=1000)
    sources.fetch_arxiv("20230402", landing, epoch=2000)

    stream_silver_arxiv(spark, catalog, f"{landing}/arxiv", ckpt)
    tbl = catalog.read("silver", "arxiv_stream")
    n_after_backlog = tbl.count()
    # overlapping ids across the two days merged to one row each
    assert tbl.select("id").distinct().count() == n_after_backlog
    assert n_after_backlog == 9  # 6 day-1 ids, 3 new on day 2

    # restart with the same checkpoint and NO new files: nothing reprocessed
    stream_silver_arxiv(spark, catalog, f"{landing}/arxiv", ckpt)
    assert catalog.read("silver", "arxiv_stream").count() == n_after_backlog

    # a new landing file is picked up incrementally and merged
    sources.fetch_arxiv("20230403", landing, epoch=3000)
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    stream_silver_arxiv(spark, catalog, f"{landing}/arxiv", ckpt)
    # the merging micro-batch releases the merge's cached branches
    assert jsc.getPersistentRDDs().size() == persisted
    tbl3 = catalog.read("silver", "arxiv_stream")
    assert tbl3.count() == 12  # 3 more new ids on day 3
    assert tbl3.select("id").distinct().count() == 12
