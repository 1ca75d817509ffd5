"""Incremental-load machinery: watermarks, merge upsert, dedup insert.

The semantic core of the reference's silver layer
(SURVEY.md §2.1 S8-S10, §3.3):

- **watermark cursor**: a one-row table holding the high-water mark;
  read-filter-update contract of silver_arxiv.py:43-50,194-199.
- **merge upsert**: ``MERGE INTO tgt USING src ON tgt.id = src.id WHEN
  MATCHED AND src.version > tgt.version THEN UPDATE SET * WHEN NOT
  MATCHED THEN INSERT *`` (silver_arxiv.py:130-152) re-expressed as a
  pure-Spark join rewrite (no Delta dependency): one equi-join on the
  key classifies target rows into kept/updated, one anti-join finds
  inserts, and the new target is their union.
- **dedup insert**: append only keys absent from the target — the
  NOT-IN pattern of silver_nyt_archive.py:102-120 as a left_anti join
  (null-safe where NOT IN is not; keys are sha2 so both agree,
  SURVEY.md §7.4.1).

Scale notes: the merge rewrite shuffles both sides on the key once —
the same physical shape Delta's MERGE lowers to. With ``partition_col``
it also computes the partition-scoped rewrite plan (touched partitions
+ their replacement rows), which ``Catalog.overwrite_partitions`` turns
into Delta-style file pruning: the daily upsert rewrites only the
run_date partitions the batch touches, not the table.
Metrics (inserted/updated) are computed from the same join results the
rewrite already materializes — the engine-side stand-in for
DESCRIBE HISTORY's operationMetrics (silver_arxiv.py:175-184, S15).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog

EPOCH_WATERMARK = "1970-01-01"


class PreconditionError(Exception):
    """Silver table and its watermark must exist together or not at all
    (silver_arxiv.py:43-49)."""


class ValidationError(Exception):
    """A pipeline data-integrity check failed (row-count conservation,
    watermark write-back). Raised, not ``assert``-ed: these are the
    pipeline's core validations and must survive ``python -O``
    (r9 verdict)."""


@dataclass
class MergeResult:
    df: DataFrame
    inserted: int
    updated: int
    #: frames persisted by the merge so metrics + write share one
    #: computation; callers unpersist via :meth:`cleanup` after the
    #: result is written.
    caches: tuple[DataFrame, ...] = ()
    #: partition-scoped rewrite plan, populated when merge_upsert is
    #: given ``partition_col``: the distinct partition values the merge
    #: touches, and a replacement frame holding ONLY those partitions'
    #: new contents (kept ∪ updated ∪ inserted rows within them). None
    #: when partition scoping was not requested or is unsafe (a touched
    #: partition value is null) — callers then fall back to ``df`` +
    #: full overwrite.
    touched_partitions: list | None = None
    scoped_df: DataFrame | None = None

    def cleanup(self) -> None:
        for c in self.caches:
            c.unpersist()


# ---------------------------------------------------------------------------
# watermark table contract
# ---------------------------------------------------------------------------


def watermark_name(table: str) -> str:
    return f"watermark_{table}"


def resolve_watermark(catalog: Catalog, table: str) -> str | None:
    """Initial-load cursor resolution (silver_arxiv.py:38-50): neither
    table nor watermark → epoch; both → stored value; mixed → error.
    Returns None when the target doesn't exist yet (first load)."""
    has_table = catalog.exists("silver", table)
    has_wm = catalog.exists("silver", watermark_name(table))
    if not has_table and not has_wm:
        return None
    if has_table and has_wm:
        row = catalog.read("silver", watermark_name(table)).collect()[0]
        return row["watermark_date"]
    raise PreconditionError(
        f"silver.{table}: table and watermark must both exist or neither "
        f"(table={has_table}, watermark={has_wm})"
    )


def write_watermark(catalog: Catalog, table: str, value: str) -> None:
    """CREATE OR REPLACE the one-row watermark table and verify the
    write-back (silver_arxiv.py:194-209)."""
    df = catalog.spark.createDataFrame([(str(value),)], ["watermark_date"])
    catalog.overwrite("silver", watermark_name(table), df)
    stored = catalog.read("silver", watermark_name(table)).collect()[0][
        "watermark_date"
    ]
    if stored != str(value):
        raise ValidationError(f"watermark write-back failed for {table}")


# ---------------------------------------------------------------------------
# merge / dedup-insert rewrites
# ---------------------------------------------------------------------------


def merge_upsert(
    tgt: DataFrame,
    src: DataFrame,
    key: str,
    update_when: Column,
    partition_col: str | None = None,
    eager_metrics: bool = True,
) -> MergeResult:
    """Pure-Spark MERGE: update matched rows satisfying ``update_when``
    (a predicate over ``tgt.<c>``/``src.<c>`` aliases), insert unmatched
    src rows, keep everything else. Column set of the result is tgt's.

    src must be unique on ``key`` (true in the reference: one batch row
    per article id after the latest-file pick).

    The batch-sized branches (updated, inserts) are persisted and
    materialized by the metric counts, so the final write reads them
    from cache instead of re-running the merge joins — metrics and
    rewrite share one computation. Callers unpersist via
    ``MergeResult.cleanup()`` once the result is written.

    ``partition_col``: when the target table is laid out by this column
    (e.g. run_date), also compute the partition-scoped rewrite plan —
    the Delta-style file pruning the reference gets from MERGE INTO
    (silver_arxiv.py:130-152). Touched partitions are: the OLD partition
    of every updated target row (its stale version must be removed from
    wherever it lives), plus the partition of every incoming updated /
    inserted row. ``scoped_df`` is then kept-rows-within-touched ∪
    updated ∪ inserts — everything ``Catalog.overwrite_partitions``
    needs to rewrite only that data. The kept-rows filter is a
    partition-pruning predicate, so the scoped plan never scans the
    untouched table. Cost is one extra distinct-collect of a handful of
    partition values; the merge joins themselves are unchanged.
    """
    from pyspark import StorageLevel

    cols = tgt.columns
    t, s = tgt.alias("tgt"), src.alias("src")
    joined = t.join(s, F.col(f"tgt.{key}") == F.col(f"src.{key}"), "inner")

    upd_sel = [F.col(f"src.{c}").alias(c) for c in cols]
    if partition_col is not None:
        # carry the target row's OLD partition alongside the new values
        upd_sel.append(F.col(f"tgt.{partition_col}").alias("__old_part"))
    upd = joined.filter(update_when).select(*upd_sel).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    updated = upd.select(*[F.col(c) for c in cols])
    updated_keys = updated.select(F.col(key))
    kept = tgt.join(updated_keys, on=key, how="left_anti")
    inserts = src.join(tgt.select(key), on=key, how="left_anti").select(
        *[F.col(c) for c in cols]
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # ``eager_metrics=False`` (r11, st8's per-batch path): skip the two
    # metric-count jobs — the branches stay persisted and the CALLER's
    # single action on ``df`` fills both caches; inserted/updated are
    # then -1 (unknown). Only for callers that never read the metrics.
    n_updated = upd.count() if eager_metrics else -1
    n_inserted = inserts.count() if eager_metrics else -1
    # re-assert tgt's column order: the USING-style anti join above
    # promotes the key column to the front of `kept`
    out = (
        kept.unionByName(updated).unionByName(inserts).select(*[F.col(c) for c in cols])
    )

    touched: list | None = None
    scoped: DataFrame | None = None
    if partition_col is not None:
        parts = (
            upd.select(F.col("__old_part").alias("p"))
            .union(upd.select(F.col(partition_col).alias("p")))
            .union(inserts.select(F.col(partition_col).alias("p")))
            .distinct()
            .collect()  # handful of partition values, read from cache
        )
        touched = sorted({r["p"] for r in parts}, key=str)
        if any(v is None for v in touched):
            touched = scoped = None  # null partition → full rewrite
        else:
            kept_scoped = tgt.filter(
                F.col(partition_col).isin(touched)
            ).join(updated_keys, on=key, how="left_anti")
            scoped = (
                kept_scoped.unionByName(updated)
                .unionByName(inserts)
                .select(*[F.col(c) for c in cols])
            )
    return MergeResult(
        df=out,
        inserted=n_inserted,
        updated=n_updated,
        caches=(upd, inserts),
        touched_partitions=touched,
        scoped_df=scoped,
    )


def dedup_insert(tgt: DataFrame, src: DataFrame, key: str) -> DataFrame:
    """INSERT-only-new: the ``src`` rows whose surrogate ``key`` is absent
    from ``tgt`` (anti join), in tgt's column order. Lazy — the caller's
    append is the one action, and ``Catalog.append`` counts its rows."""
    return src.join(tgt.select(key), on=key, how="left_anti").select(
        *[F.col(c) for c in tgt.columns]
    )
