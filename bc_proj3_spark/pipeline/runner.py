"""Pipeline runner: thread run_date through bronze → silver → gold.

The library form of the reference's control plane (SURVEY.md §2.12):
the Airflow DAG's fan-in (cleantech.py:76-79) becomes a staged
sequence; the templated run date (D3) is an explicit parameter; the
no-files notebook exit (D4) becomes a SKIPPED stage result; precondition
violations (D5) raise; is_fresh_load (D6) is the ``fresh`` flag.

Skip semantics match the reference's behavior: a bronze stage with no
landing file for the run date leaves the *previous* bronze batch in
place, and silver still runs over it — harmless because every silver
strategy is idempotent (merge / keyed dedup / strict-> watermark), which
is the pipeline's core re-runnability contract (README.md:28,
SURVEY.md §7.4.7) and is pinned by tests/test_pipeline.py.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.io import landing
from bc_proj3_spark.pipeline import gold as gd
from bc_proj3_spark.pipeline import silver as sv

SKIPPED = "SKIPPED"
LOADED = "LOADED"


@dataclass
class StageResult:
    name: str
    status: str
    rows: int = 0
    metrics: dict = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    catalog: Catalog,
    landing_dir: str,
    run_date: str,
    fresh: bool = False,
    maintenance: bool = False,
) -> dict[str, StageResult]:
    """One daily run. Returns per-stage results keyed by stage name.

    ``maintenance``: after the load, compact silver tables fragmented by
    the day's incremental appends and vacuum orphaned staging dirs —
    the OPTIMIZE/VACUUM step a production daily DAG schedules alongside
    the load (the reference gets it from Databricks table maintenance).
    Off by default: tests and ad-hoc runs shouldn't churn files."""
    results: dict[str, StageResult] = {}

    for src in sv.SOURCES.values():
        name = f"bronze_{src.name}"
        try:
            batch = landing.select_batch_file(
                run_date, os.path.join(landing_dir, src.table), src.date_sep
            )
        except landing.NoFilesForRunDate:
            results[name] = StageResult(name, SKIPPED)
            continue
        rows = src.bronze(spark, catalog, batch, run_date)
        results[name] = StageResult(name, LOADED, rows=rows)

    for src in sv.SOURCES.values():
        name = f"silver_{src.name}"
        if not catalog.exists("bronze", src.table):
            results[name] = StageResult(name, SKIPPED)
            continue
        metrics = sv.silver(spark, catalog, src, fresh=fresh)
        results[name] = StageResult(
            name, LOADED, rows=metrics.pop("rows"), metrics=metrics
        )

    silver_ready = all(catalog.exists("silver", s.table) for s in sv.SOURCES.values())
    if silver_ready:
        counts = gd.gold_words(spark, catalog, fresh=fresh)
        results["gold_words"] = StageResult(
            "gold_words", LOADED, rows=sum(counts.values()), metrics=counts
        )
        scored = gd.gold_scoring(spark, catalog)
        results["gold_scoring"] = StageResult("gold_scoring", LOADED, rows=scored)
    else:
        results["gold_words"] = StageResult("gold_words", SKIPPED)
        results["gold_scoring"] = StageResult("gold_scoring", SKIPPED)

    if maintenance:
        compacted: dict[str, int] = {}
        for src in sv.SOURCES.values():
            if catalog.exists("silver", src.table):
                done = catalog.compact("silver", src.table)
                if done:
                    compacted[src.table] = sum(b - a for b, a in done.values())
        vacuumed = sum(len(catalog.vacuum(layer)) for layer in ("bronze", "silver", "gold"))
        results["maintenance"] = StageResult(
            "maintenance", LOADED,
            metrics={"files_reclaimed": sum(compacted.values()),
                     "tmp_dirs_vacuumed": vacuumed, **compacted},
        )

    return results


def main(argv: list[str] | None = None) -> int:
    """CLI: ``python -m bc_proj3_spark.pipeline.runner --run-date 20230401
    [--fresh] [--landing DIR] [--warehouse DIR]`` — the engine's
    replacement for the reference's Airflow-triggered Databricks job
    (cleantech.py:66-73): one process, explicit run_date, exit code 0
    iff no stage errored (SKIPPED is a normal outcome)."""
    import argparse

    from bc_proj3_spark.catalog import Catalog
    from bc_proj3_spark.session import get_spark

    ap = argparse.ArgumentParser(description="Run the medallion pipeline once")
    ap.add_argument("--run-date", required=True, help="YYYYMMDD")
    ap.add_argument("--landing", default="./landing")
    ap.add_argument("--warehouse", default="./warehouse")
    ap.add_argument("--fresh", action="store_true", help="reset silver/gold first")
    ap.add_argument("--fetch", action="store_true",
                    help="also land synthetic batches first (offline sources)")
    ap.add_argument("--maintenance", action="store_true",
                    help="compact fragmented silver partitions + vacuum tmp dirs")
    args = ap.parse_args(argv)

    spark = get_spark(app_name=f"pipeline-{args.run_date}")
    catalog = Catalog(spark, args.warehouse)
    if args.fetch:
        from bc_proj3_spark.io import sources

        sources.fetch_all(args.run_date, args.landing, epoch=int(args.run_date))
    results = run_pipeline(
        spark, catalog, args.landing, args.run_date,
        fresh=args.fresh, maintenance=args.maintenance,
    )
    for r in results.values():
        print(f"{r.name:16s} {r.status:8s} rows={r.rows} {r.metrics or ''}")
    return 0


if __name__ == "__main__":  # pragma: no cover - thin CLI shim
    raise SystemExit(main())
