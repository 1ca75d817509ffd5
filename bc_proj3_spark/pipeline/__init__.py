"""Medallion pipeline: bronze → silver → gold runnable stages.

The reference's Databricks-notebook pipeline (README.md:27-29) as
library code. One source table, ``silver.SOURCES``, declares every
per-source fact (landing subdir, bronze flattener, typed projection,
surrogate key, incremental strategy, watermark and gold text columns);
the bronze flatteners, the single ``silver.silver`` stage and the gold
stages all read it, and pipeline/runner.py threads run_date through the
stage graph the way the Airflow DAG does (cleantech.py:12-79). Adding a
source means one ``SOURCES`` entry plus its bronze flattener.
"""

from bc_proj3_spark.pipeline.runner import StageResult, run_pipeline  # noqa: F401
