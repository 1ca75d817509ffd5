"""Silver: one typed-projection + incremental-load stage for every feed.

Each :data:`SOURCES` entry declares a feed's facts once (landing subdir,
bronze flattener, typed projection, surrogate key, incremental strategy,
watermark and gold text columns); the runner, :func:`silver`, the gold
stages and ``streaming.incremental.stream_silver_arxiv`` all read it.
Adding a source means one entry plus its bronze flattener. The
strategies mirror the reference's three notebooks:

- **merge** (arxiv, silver_arxiv.py): watermark on updated_dt (re-read
  overlap via >=), MERGE upsert on article id with
  update-if-newer-version; watermark = max over the batch;
- **dedup** (nytarchive, silver_nyt_archive.py): append-only with
  surrogate-key dedup (anti join), no watermark;
- **after-watermark** (googlescholar, silver_google_scholar.py): derived
  publish_dt (native days_ago parse), insert rows with publish_dt
  strictly greater than the watermark; watermark = max over the whole
  target.

Documented deviations from the reference (SURVEY.md §7.4):
- version is cast to int so '10' sorts after '9' (the reference
  compares strings, :117-151);
- days_ago is a native regexp (the reference UDF crashes on digit-less
  snippets and has an always-true condition, :107-117);
- scholar's strict-> watermark drops same-day re-derived rows — kept
  verbatim for parity, and pinned by a test.

Row-count conservation (pre == post of the typed projection) is
asserted exactly as the notebooks do (silver_arxiv.py:64,161-166).
Insert counts are the rows the catalog write itself counted.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.operators import incremental as inc
from bc_proj3_spark.pipeline import bronze as bz

#: leading "N day(s) ago" of a scholar snippet (silver_google_scholar.py:108)
DAYS_AGO_RE = r"^\s*(\d+)\s+days? ago"

#: incremental strategies (see module docstring)
MERGE, DEDUP, AFTER_WATERMARK = "merge", "dedup", "after_watermark"


def _run_date_col() -> Column:
    """bronze's YYYYMMDD audit string → date (silver_arxiv.py:89-94)."""
    return F.to_date(F.col("run_date"), "yyyyMMdd")


def _sk(*parts: Column | str) -> Column:
    """sha2-256 surrogate key over concat_ws'd parts (silver_arxiv.py:117).
    concat_ws skips nulls — key semantics depend on it (SURVEY.md F5)."""
    return F.sha2(F.concat_ws("||", *parts), 256)


def _strings(*names: str) -> list[Column]:
    return [F.col(c).cast("string").alias(c) for c in names]


def _date10(name: str) -> Column:
    """First 10 chars of an ISO timestamp string → date."""
    return F.substring(F.col(name), 1, 10).cast("date")


def days_ago(snippet: Column) -> Column:
    """Native rewrite of the days_ago UDF (silver_google_scholar.py:107-117):
    leading 'N day(s) ago' → N, else null."""
    return F.when(
        snippet.rlike(DAYS_AGO_RE),
        F.regexp_extract(snippet, DAYS_AGO_RE, 1).cast("int"),
    )


def _arxiv_columns() -> list[Column]:
    """id/version split out of the abs URL (silver_arxiv.py:82-97)."""
    tail = F.split(F.split(F.col("id"), "/").getItem(4), "v")
    return [
        tail.getItem(0).cast("string").alias("id"),
        tail.getItem(1).cast("int").alias("version"),
        F.col("id").cast("string").alias("link"),
        *_strings("summary", "title"),
        _date10("updated").alias("updated_dt"),
    ]


def _nyt_columns() -> list[Column]:
    return [
        F.col("_id").cast("string").alias("id"),
        *_strings("abstract", "lead_paragraph", "snippet"),
        _date10("pub_date").alias("publish_dt"),
    ]


def _scholar_columns() -> list[Column]:
    """publish_dt = run_date - days_ago(snippet), else run_date
    (silver_google_scholar.py:141)."""
    run_date = _run_date_col()
    return [
        *_strings("link", "result_id", "snippet", "title"),
        F.coalesce(F.date_sub(run_date, days_ago(F.col("snippet"))), run_date)
        .alias("publish_dt"),
    ]


def _audit_columns() -> list[Column]:
    return [
        *_strings("source_file_name"),
        _run_date_col().alias("run_date"),
        F.col("load_ts").cast("timestamp").alias("load_ts"),
    ]


@dataclass(frozen=True)
class Source:
    """One feed's facts. ``name`` suffixes its stage names (bronze_<name>,
    silver_<name>); ``table`` is its landing subdir and bronze/silver
    table; ``bronze`` is its bronze stage; ``columns`` its typed
    projection of a bronze row; ``key`` the surrogate-key column hashed
    from ``key_parts``; ``date_col`` its watermark column and gold
    publish_dt; ``tag`` and ``text_cols`` its gold source tag and words."""

    name: str
    table: str
    date_sep: str
    bronze: Callable[[SparkSession, Catalog, str, str], int]
    columns: Callable[[], list[Column]]
    key: str
    key_parts: tuple[str, ...]
    strategy: str  # MERGE | DEDUP | AFTER_WATERMARK
    date_col: str
    tag: str
    text_cols: tuple[str, ...]

    def keyed(self, proj: DataFrame) -> DataFrame:
        """Prepend the surrogate key to a typed projection."""
        return proj.select(_sk(*self.key_parts).alias(self.key), "*")


SOURCES: dict[str, Source] = {
    s.name: s
    for s in (
        Source(
            "arxiv", "arxiv", "-", bz.bronze_arxiv, _arxiv_columns,
            "arx_sk", ("id", "version", "updated_dt"), MERGE,
            "updated_dt", "arx", ("summary", "title"),
        ),
        Source(
            "nyt", "nytarchive", "_", bz.bronze_nyt, _nyt_columns,
            "nyt_sk", ("id", "publish_dt"), DEDUP,
            "publish_dt", "nyt", ("abstract", "lead_paragraph", "snippet"),
        ),
        Source(
            "scholar", "googlescholar", "_", bz.bronze_scholar, _scholar_columns,
            "ggl_sk", ("result_id", "publish_dt"), AFTER_WATERMARK,
            "publish_dt", "ggl", ("snippet", "title"),
        ),
    )
}


def _merge(catalog: Catalog, table: str, src: DataFrame) -> tuple[int, int]:
    """MERGE upsert on id, update when the incoming version is newer;
    rewrites only the run_date partitions the batch touches."""
    res = inc.merge_upsert(
        catalog.read("silver", table), src, key="id",
        update_when=F.col("src.version") > F.col("tgt.version"),
        partition_col="run_date",
    )
    try:
        if res.scoped_df is not None:
            # rewrite ONLY the run_date partitions the batch touched
            # (Delta-style pruning; untouched partitions' files stay)
            catalog.overwrite_partitions(
                "silver", table, res.scoped_df, res.touched_partitions
            )
        else:  # null run_date in the touched set — full rewrite
            catalog.overwrite("silver", table, res.df, partition_by=["run_date"])
    finally:
        res.cleanup()  # release merge branches even on write failure
    return res.inserted, res.updated


def silver(
    spark: SparkSession, catalog: Catalog, source: Source, fresh: bool = False
) -> dict:
    """Load ``silver.<source.table>`` from its bronze table with the
    source's incremental strategy. Returns {'inserted', 'updated', 'rows'}."""
    table, date_col = source.table, source.date_col
    if fresh:
        catalog.drop("silver", table)
        catalog.drop("silver", inc.watermark_name(table))

    watermark = (
        None if source.strategy == DEDUP else inc.resolve_watermark(catalog, table)
    )
    create = not catalog.exists("silver", table)
    bronze = catalog.read("bronze", table)
    pre = bronze.count()
    proj = bronze.select(*source.columns(), *_audit_columns())
    keyed = source.keyed(proj)

    updated = 0
    if create:
        operation = "CREATE"
        inserted = catalog.overwrite("silver", table, keyed, partition_by=["run_date"])
    elif source.strategy == MERGE:
        operation = "MERGE"
        inserted, updated = _merge(
            catalog, table, keyed.filter(F.col(date_col) >= F.lit(watermark))
        )
    else:
        operation = "INSERT"
        if source.strategy == DEDUP:
            new_rows = inc.dedup_insert(
                catalog.read("silver", table), keyed, key=source.key
            )
        else:
            # strict > : same-day rows at the watermark are dropped — the
            # reference's documented semantics (silver_google_scholar.py:162)
            new_rows = keyed.filter(F.col(date_col) > F.lit(watermark))
        inserted = catalog.append("silver", table, new_rows)
    history = {"numTargetRowsInserted": inserted}
    if operation == "MERGE":
        history["numTargetRowsUpdated"] = updated
    catalog.log_operation("silver", table, operation, **history)

    post = proj.count()
    if pre != post:
        raise inc.ValidationError(
            f"silver.{table}: rows lost in transformation ({pre}->{post})"
        )

    if source.strategy != DEDUP:
        # merge: max over the batch; after-watermark: max over the WHOLE
        # target (silver_google_scholar.py:215)
        basis = proj if source.strategy == MERGE else catalog.read("silver", table)
        max_date = basis.agg(F.max(date_col).alias("m")).collect()[0]["m"]
        if max_date is not None:
            inc.write_watermark(catalog, table, str(max_date))
    return {"inserted": inserted, "updated": updated, "rows": pre}


#: the arXiv load on its own (validation and precondition tests call it)
silver_arxiv = partial(silver, source=SOURCES["arxiv"])
