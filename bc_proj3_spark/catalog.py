"""Layer-namespaced parquet warehouse — the engine's table catalog.

Stands in for the reference's ``main.bronze/silver/gold`` Delta catalog
(bronze_arxiv.py:102-104, silver_arxiv.py:114-128): tables live at
``<warehouse>/<layer>/<name>`` as parquet directories, and the catalog
exposes the same verbs the notebooks use — CTAS-overwrite, append,
read, drop-if-exists, existence/list checks (SURVEY.md §2.1
S6-S9/S12-S13).

Overwrite is write-to-temp-then-swap so a plan that *reads* a table can
rebuild the same table (the silver merge reads its target and replaces
it): the new contents are fully materialized before the old directory
is removed, and readers of the old snapshot were already satisfied.

Scale note: on a real deployment this thin path-catalog is the seam
where Delta/Iceberg slots in (ACID swap, MERGE, time travel,
DESCRIBE HISTORY); the pipeline code only talks to these verbs, so the
swap is local to this module. Partition columns are threaded through
``write`` so silver/gold tables can be laid out by run_date/publish_dt
for partition pruning.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LAYERS = ("bronze", "silver", "gold")


def _write_counted(df: DataFrame, path: str, partition_by: list[str] | None) -> int:
    """Add ``df``'s rows to the parquet dataset at ``path`` (creating it
    when absent — overwrites stage into a fresh directory) and return
    the rows written, counted by the WRITE JOB itself via ``df.observe``
    — never a second read-back scan of what was just written (at 100 TB
    that re-scan is a full extra pass over the output)."""
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return int(obs.get["rows"])


class Catalog:
    def __init__(
        self, spark: SparkSession, warehouse_dir: str, retain_versions: int = 0
    ):
        """``retain_versions``: number of PREVIOUS table states kept for
        time travel (:meth:`read_version`). 0 (default) = none, the
        original swap-and-delete behavior. Snapshots are hardlink trees
        (O(files) metadata, zero data copy — see :meth:`_snapshot`)."""
        self.spark = spark
        self.warehouse = Path(warehouse_dir)
        self.retain_versions = retain_versions

    # -- paths ------------------------------------------------------------

    def path(self, layer: str, name: str) -> Path:
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
        return self.warehouse / layer / name

    # -- existence / listing ---------------------------------------------

    def exists(self, layer: str, name: str) -> bool:
        p = self.path(layer, name)
        # rglob: partitioned tables nest files under key=value dirs
        return p.is_dir() and any(p.rglob("*.parquet"))

    def list_tables(self, layer: str) -> list[str]:
        base = self.warehouse / layer
        if not base.is_dir():
            return []
        return sorted(
            p.name
            for p in base.iterdir()
            # '_'-prefixed dirs are catalog metadata (_meta/_history/
            # _versions); 'tmp-' dirs are in-flight staged writes —
            # neither is a table even when it holds parquet files.
            if not p.name.startswith(("_", "tmp-")) and self.exists(layer, p.name)
        )

    # -- read / write -----------------------------------------------------

    def read(self, layer: str, name: str) -> DataFrame:
        """Read a table, restoring the logical column order.

        Hive-style partitioned parquet surfaces partition columns LAST
        on read; the catalog re-selects the order the table was written
        with (recorded at overwrite time) so partition layout stays a
        physical detail, invisible to schema contracts.
        """
        if not self.exists(layer, name):
            raise FileNotFoundError(f"table {layer}.{name} does not exist")
        df = self.spark.read.parquet(str(self.path(layer, name)))
        cols = self._read_cols(layer, name)
        if cols and set(cols) == set(df.columns) and cols != df.columns:
            df = df.select(*cols)
        return df

    def overwrite(
        self, layer: str, name: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        """CREATE OR REPLACE TABLE AS SELECT. Returns rows written.

        ``partition_by`` lays the table out hive-style so downstream
        filters on those columns become scan-level partition pruning
        (the partition-pruning seam SURVEY.md §4 calls for)."""
        target = self.path(layer, name)
        # NOTE: no '.'/'_' prefix — Spark's file index silently ignores
        # hidden/metadata paths, which would break later reads of the dir.
        tmp = target.with_name(f"tmp-{name}-{uuid.uuid4().hex[:8]}")
        rows = _write_counted(df, str(tmp), partition_by)  # materializes BEFORE the swap
        self._snapshot(layer, name)  # time-travel retention (no-op unless enabled)
        if target.exists():
            shutil.rmtree(target)
        tmp.rename(target)
        self._write_meta(layer, name, df.columns, partition_by)
        return rows

    def overwrite_partitions(
        self, layer: str, name: str, df: DataFrame, partition_values: list
    ) -> int:
        """Dynamic-partition overwrite: replace ONLY the listed
        partitions of an existing partitioned table with ``df``'s
        contents, leaving every other partition's files untouched.

        This is the file-pruning half of Delta's MERGE INTO
        (silver_arxiv.py:130-152): the caller computes which partitions
        a merge touches, and the rewrite cost becomes proportional to
        the TOUCHED data, not the table — the difference between a
        daily upsert that rewrites one day and one that rewrites 100 TB.

        ``df`` must contain only rows whose partition value is in
        ``partition_values`` (guarded below — a row outside the listed
        set would otherwise be silently dropped by the swap). A listed
        value with no rows in ``df`` has its partition DELETED (the
        merge emptied it). Returns rows written.
        """
        meta = self._read_meta(layer, name) or {}
        pby = meta.get("partition_by") or []
        if len(pby) != 1:
            raise ValueError(
                f"{layer}.{name}: partition-scoped overwrite needs exactly one "
                f"partition column, table has {pby!r}"
            )
        if any(v is None for v in partition_values):
            raise ValueError(
                f"{layer}.{name}: null partition value — use full overwrite"
            )
        target = self.path(layer, name)
        if not target.is_dir():
            raise FileNotFoundError(f"table {layer}.{name} does not exist")
        if not partition_values:
            return 0
        pcol = pby[0]
        wanted = {f"{pcol}={v}" for v in partition_values}
        tmp = target.with_name(f"tmp-{name}-{uuid.uuid4().hex[:8]}")
        try:
            rows = _write_counted(df, str(tmp), pby)
            written = {p.name for p in tmp.iterdir() if p.name.startswith(f"{pcol}=")}
            if not written <= wanted:
                raise ValueError(
                    f"{layer}.{name}: df contains partitions outside the "
                    f"declared touched set: {sorted(written - wanted)}"
                )
            self._snapshot(layer, name)  # hardlinks: cheap even though the
            # snapshot covers the WHOLE table, not just touched partitions
            for dirname in wanted:
                old = target / dirname
                if old.exists():
                    shutil.rmtree(old)
                new = tmp / dirname
                if new.exists():
                    new.rename(old)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return rows

    def delete_where(self, layer: str, name: str, condition) -> int:
        """DELETE FROM ``layer.name`` WHERE ``condition`` — the Delta
        DML verb the reference's GDPR/compliance path would need
        (notebooks use DROP TABLE only; row-level delete is the engine
        add that completes the MERGE/DELETE/HISTORY DML trio).

        Partition-pruned like the merge: on a partitioned table only
        the partitions that actually CONTAIN matching rows are
        rewritten — the touched-value list is one bounded aggregate
        over the matching rows (distinct partition values ≤ partition
        count), and untouched partitions' files are never opened for
        write. A partition whose rows all match is deleted outright.
        Unpartitioned tables fall back to a full rewrite.

        Returns the number of rows deleted; records a DELETE history
        entry (predicate + rows_deleted) and keeps the pre-delete state
        travelable via the snapshot hook inside the rewrite path.
        """
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        cond = F.expr(condition) if isinstance(condition, str) else condition
        if not isinstance(cond, Column):
            raise TypeError(f"condition must be a Column or SQL string, got {type(condition)!r}")
        meta = self._read_meta(layer, name) or {}
        pby = meta.get("partition_by") or []
        current = self.read(layer, name)
        kept = current.filter(~F.coalesce(cond, F.lit(False)))
        matched = current.filter(F.coalesce(cond, F.lit(False)))
        if len(pby) == 1:
            pcol = pby[0]
            touched_rows = (
                matched.groupBy(pcol).agg(F.count(F.lit(1)).alias("n")).collect()
            )
            deleted = int(sum(r["n"] for r in touched_rows))
            if any(r[pcol] is None for r in touched_rows):
                raise ValueError(
                    f"{layer}.{name}: matching rows in a null partition — "
                    "partition-scoped delete cannot address them; rewrite "
                    "via overwrite() instead"
                )
            values = [r[pcol] for r in touched_rows]
            if deleted == 0:
                self.log_operation(
                    layer, name, "DELETE",
                    predicate=str(condition), rows_deleted=0, partitions_rewritten=0,
                )
                return 0
            self.overwrite_partitions(
                layer, name,
                kept.filter(F.col(pcol).isin(values)), values,
            )
            self.log_operation(
                layer, name, "DELETE",
                predicate=str(condition), rows_deleted=deleted,
                partitions_rewritten=len(values),
            )
            return deleted
        # unpartitioned (or multi-partition-col) table: full rewrite
        n_before = current.count()
        n_after = self.overwrite(layer, name, kept, partition_by=pby or None)
        deleted = n_before - n_after
        self.log_operation(
            layer, name, "DELETE",
            predicate=str(condition), rows_deleted=deleted,
            partitions_rewritten=-1,
        )
        return deleted

    def append(self, layer: str, name: str, df: DataFrame) -> int:
        """INSERT INTO, honoring the table's recorded partition layout.
        Returns rows appended. The caller is responsible for dedup
        semantics (anti-join first, as in silver_nyt_archive.py:102-120)."""
        meta = self._read_meta(layer, name) or {}
        self._snapshot(layer, name)  # pre-append state stays travelable
        return _write_counted(df, str(self.path(layer, name)), meta.get("partition_by"))

    # -- time travel (hardlink snapshots) ---------------------------------

    def _versions_dir(self, layer: str, name: str) -> Path:
        return self.warehouse / layer / "_versions" / name

    def versions(self, layer: str, name: str) -> list[int]:
        """Snapshot ids available for :meth:`read_version`, oldest first."""
        base = self._versions_dir(layer, name)
        if not base.is_dir():
            return []
        return sorted(int(p.name[1:]) for p in base.iterdir() if p.name[0] == "v")

    def _snapshot(self, layer: str, name: str) -> int | None:
        """Preserve the current table state as a read-only snapshot
        before a destructive swap — the catalog's stand-in for Delta
        time travel (``VERSION AS OF``), which the reference gets from
        managed Delta alongside DESCRIBE HISTORY (silver_arxiv.py:175).

        The snapshot is a HARDLINK tree: O(files) metadata operations,
        zero data copied, and deleting either tree leaves the other's
        links intact — so swap-and-delete of the live table never
        disturbs a snapshot. (At 100 TB on object storage the same verb
        is file-manifest retention, Delta/Iceberg's trick; hardlinks
        are the posix-filesystem equivalent, same cost model.) Retention
        is pruned to ``retain_versions``; returns the new snapshot id,
        or None when versioning is off / table doesn't exist yet."""
        if self.retain_versions <= 0 or not self.exists(layer, name):
            return None
        vs = self.versions(layer, name)
        n = (vs[-1] + 1) if vs else 0
        dst = self._versions_dir(layer, name) / f"v{n}"
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copytree(self.path(layer, name), dst, copy_function=os.link)
        for old in self.versions(layer, name)[: -self.retain_versions]:
            shutil.rmtree(self._versions_dir(layer, name) / f"v{old}")
        return n

    def read_version(self, layer: str, name: str, version: int = -1) -> DataFrame:
        """Read a retained snapshot (``VERSION AS OF``): an id from
        :meth:`versions`, or -1 for the newest snapshot (the state just
        before the latest rewrite)."""
        vs = self.versions(layer, name)
        if not vs:
            raise FileNotFoundError(f"{layer}.{name}: no retained versions")
        v = vs[-1] if version == -1 else version
        if v not in vs:
            raise FileNotFoundError(
                f"{layer}.{name}: version {version} not retained (have {vs})"
            )
        df = self.spark.read.parquet(str(self._versions_dir(layer, name) / f"v{v}"))
        cols = self._read_cols(layer, name)
        if cols and set(cols) == set(df.columns) and cols != df.columns:
            df = df.select(*cols)
        return df

    def compact(
        self,
        layer: str,
        name: str,
        min_files: int = 2,
        zorder_by: list[str] | None = None,
        zorder_files: int = 1,
    ) -> dict:
        """OPTIMIZE-style small-file compaction — Delta's table
        maintenance verb (the reference gets it from Databricks; here
        it's the answer to what incremental appends do to a table:
        every dedup-append lands one more small file per partition, and
        at a daily cadence a year of runs is 365 tiny files per
        partition, which at 100 TB turns every scan into a metadata +
        seek storm).

        Partitioned tables: each partition directory holding >=
        ``min_files`` data files is rewritten into one file (the
        replacement frame is repartitioned BY the partition column, so
        each value lands in exactly one task → one output file); clean
        partitions are not touched, reusing the overwrite_partitions
        swap. Unpartitioned tables: the whole table is rewritten into a
        single file when it has >= ``min_files``.

        ``zorder_by`` (unpartitioned tables): ``OPTIMIZE ... ZORDER BY``
        parity — the rewrite clusters rows by the interleaved Z-address
        of the named columns (operators/layout.py) into ``zorder_files``
        files, so later filters on ANY clustered column prune files and
        row groups by parquet min-max stats. The clustering sort is the
        compaction job itself — no extra pass.

        Returns {partition_dir_or_'': (files_before, files_after)} for
        the rewritten units and logs a COMPACT history entry
        (DESCRIBE HISTORY parity — Delta's OPTIMIZE shows up the same
        way).
        """
        meta = self._read_meta(layer, name) or {}
        pby = meta.get("partition_by") or []
        target = self.path(layer, name)
        if not self.exists(layer, name):
            raise FileNotFoundError(f"table {layer}.{name} does not exist")
        if zorder_by and pby:
            raise ValueError(
                "zorder_by applies to unpartitioned tables; a partitioned "
                "table z-orders within partitions via its own rewrite"
            )

        def _n_files(p: Path) -> int:
            return sum(1 for f in p.glob("*.parquet"))

        done: dict[str, tuple[int, int]] = {}
        if not pby:
            before = _n_files(target)
            if before >= min_files:
                if zorder_by:
                    from bc_proj3_spark.operators.layout import zorder_layout

                    df = zorder_layout(
                        self.read(layer, name), zorder_by, zorder_files
                    )
                else:
                    df = self.read(layer, name).repartition(1)
                self.overwrite(layer, name, df)
                done[""] = (before, _n_files(self.path(layer, name)))
        else:
            pcol = pby[0]
            dirty = {
                p.name: _n_files(p)
                for p in target.iterdir()
                if p.name.startswith(f"{pcol}=") and _n_files(p) >= min_files
            }
            if dirty:
                values = [d.split("=", 1)[1] for d in dirty]
                df = (
                    self.read(layer, name)
                    .filter(F.col(pcol).cast("string").isin(values))
                    .repartition(F.col(pcol))
                )
                self.overwrite_partitions(layer, name, df, values)
                done = {
                    d: (n, _n_files(target / d)) for d, n in dirty.items()
                }
        if done:
            self.log_operation(
                layer, name, "COMPACT",
                filesBefore=sum(b for b, _ in done.values()),
                filesAfter=sum(a for _, a in done.values()),
            )
        return done

    def vacuum(self, layer: str, max_age_seconds: float = 24 * 3600.0) -> list[str]:
        """Remove orphaned ``tmp-*`` write directories older than
        ``max_age_seconds`` — Delta VACUUM's job, scoped to this
        catalog's failure mode: overwrite/overwrite_partitions stage
        into a tmp dir and clean up in-line, so a tmp dir can only
        outlive its writer if the process died mid-write. The age guard
        keeps a CONCURRENT writer's live staging dir safe (default 24 h,
        same spirit as Delta's retention check). Returns removed paths.
        """
        removed: list[str] = []
        base = self.warehouse / layer
        if not base.is_dir():
            return removed
        cutoff = time.time() - max_age_seconds
        for p in base.iterdir():
            if p.is_dir() and p.name.startswith("tmp-") and p.stat().st_mtime < cutoff:
                shutil.rmtree(p)
                removed.append(str(p))
        return removed

    def drop(self, layer: str, name: str) -> None:
        """DROP TABLE IF EXISTS (history + metadata dropped with it)."""
        p = self.path(layer, name)
        if p.exists():
            shutil.rmtree(p)
        for meta in (self._history_path(layer, name), self._meta_path(layer, name)):
            if meta.exists():
                meta.unlink()
        vdir = self._versions_dir(layer, name)
        if vdir.exists():
            shutil.rmtree(vdir)

    # -- table metadata (logical column order + partition spec) -----------

    def _meta_path(self, layer: str, name: str) -> Path:
        return self.warehouse / layer / "_meta" / f"{name}.json"

    def _write_meta(
        self, layer: str, name: str, cols: list[str], partition_by: list[str] | None
    ) -> None:
        p = self._meta_path(layer, name)
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(
            json.dumps({"columns": list(cols), "partition_by": partition_by or []})
        )

    def _read_meta(self, layer: str, name: str) -> dict | None:
        p = self._meta_path(layer, name)
        return json.loads(p.read_text()) if p.exists() else None

    def _read_cols(self, layer: str, name: str) -> list[str] | None:
        meta = self._read_meta(layer, name)
        return meta["columns"] if meta else None

    # -- operation history (DESCRIBE HISTORY parity, SURVEY.md §2.1 S15) --

    def _history_path(self, layer: str, name: str) -> Path:
        return self.warehouse / layer / "_history" / f"{name}.jsonl"

    def log_operation(self, layer: str, name: str, operation: str, **metrics) -> None:
        """Record an operation + its metrics — the engine-side stand-in
        for Delta's DESCRIBE HISTORY / operationMetrics, which the
        reference queries after every merge (silver_arxiv.py:175-184).
        Driver-side metadata write: one JSON line per operation."""
        p = self._history_path(layer, name)
        p.parent.mkdir(parents=True, exist_ok=True)
        entry = {
            "version": sum(1 for _ in p.open()) if p.exists() else 0,
            "operation": operation,
            "timestamp": time.time(),
            "operationMetrics": {
                k: (v if isinstance(v, str) else int(v))
                for k, v in metrics.items()
            },
        }
        with p.open("a", encoding="utf-8") as fh:
            fh.write(json.dumps(entry) + "\n")

    def history(self, layer: str, name: str) -> list[dict]:
        """Operations newest-first (`DESCRIBE HISTORY ... ORDER BY
        version DESC` shape)."""
        p = self._history_path(layer, name)
        if not p.exists():
            return []
        with p.open(encoding="utf-8") as fh:
            entries = [json.loads(line) for line in fh]
        return sorted(entries, key=lambda e: -e["version"])
