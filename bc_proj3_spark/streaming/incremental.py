"""Streaming incremental loads + windowed event aggregation.

Two surfaces:

- :func:`st1_stream_window_counts` (registered query): tumbling-window
  event counts computed BY A REAL STREAMING QUERY — file-stream source
  over the events parquet, event-time watermark, window aggregation,
  ``Trigger.AvailableNow`` draining into a memory sink; the returned
  DataFrame is the sink's final contents. The DuckDB oracle is the
  batch equivalent (date_trunc-hour GROUP BY), so the streaming
  machinery is held to the same value-hash bar as every batch operator.

- :func:`stream_silver_arxiv`: the silver incremental load as a
  Structured Streaming job — readStream over the landing dir, the
  arXiv entry's typed projection and surrogate key from
  pipeline/silver.py, dropDuplicates on the surrogate key, and a
  foreachBatch merge into the catalog. The
  batch cursor (silver_arxiv.py:43-50,130-152) becomes checkpoint-backed
  source offsets: re-running never re-lands processed files, which is
  the same idempotency contract with exactly-once bookkeeping instead
  of a hand-rolled watermark table.

Scale notes: AvailableNow processes the backlog in rate-limited
micro-batches (maxFilesPerTrigger honored) — the 100 TB catch-up run
doesn't need one giant batch; the watermark bounds window/dedup state
so long streams don't accumulate unbounded state; foreachBatch gives
the merge the same single-key-shuffle plan as the batch path.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from bc_proj3_spark.functions.joins import gated_broadcast
from bc_proj3_spark.plans.tables import _normalize_event_ts, table
from bc_proj3_spark.registry import register

#: Shuffle width for the registered streaming demos' STATE stores.
#: Stateful streaming fixes its shuffle-partition count at the first
#: checkpoint and every micro-batch then pays per-partition state-store
#: overhead (open/commit/snapshot × sides × partitions) regardless of
#: data volume — measured 3× end-to-end on the stream-stream join at
#: sf0.1 (8 partitions: 2.7 s; 32: 8 s). Unlike batch, AQE cannot
#: coalesce this, so it must be SIZED: to expected peak state volume on
#: a cluster (hundreds for 100 TB feeds), small for bounded demo
#: drains. Env-overridable like the batch width.
#: Scratch base for EPHEMERAL drain state (per-call checkpoint dirs,
#: st8's staged feed). Every registered streaming query creates a fresh
#: checkpoint per call and deletes it on exit — the dir is scratch by
#: construction, so it goes on the fastest local medium available
#: (tmpfs when present): micro-batch latency here is dominated by the
#: offset/commit-log and state-store fsyncs, not compute. A real
#: deployment needs DURABLE checkpoints for exactly-once restart —
#: point SPARK_GRAFT_STREAM_SCRATCH at the durable location (or any
#: other base) to override; unset with no /dev/shm falls back to the
#: system tempdir, the pre-r11 behavior.
_SCRATCH_BASE = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH") or (
    "/dev/shm" if os.path.isdir("/dev/shm") else None
)


def _scratch_mkdtemp(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_BASE)


@contextlib.contextmanager
def _scratch_dir(prefix: str):
    import shutil

    d = _scratch_mkdtemp(prefix)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


STREAM_SHUFFLE = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8")


@contextlib.contextmanager
def _stream_shuffle(spark: SparkSession):
    """Temporarily size shuffle partitions for a stateful stream drain.

    Safe here because each registered streaming query drains its whole
    backlog with AvailableNow inside the builder call (fresh checkpoint
    per call, nothing concurrent on the session); a long-lived
    deployment would instead set the conf once at stream start."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

_ST1_ORACLE = """
SELECT
  event_type,
  date_trunc('hour', ts) AS window_start,
  COUNT(*) AS n_events
FROM events
GROUP BY event_type, date_trunc('hour', ts)
"""


@register("st1_stream_window_counts", _ST1_ORACLE)
def st1_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts per type, computed by an actual streaming
    query (source → watermark → window agg → AvailableNow → memory
    sink). Complete output mode so every window is emitted and the
    result equals the batch GROUP BY — which is exactly what the oracle
    checks. The 1-hour watermark bounds aggregation state; in a live
    deployment the same plan runs in append mode emitting finalized
    windows."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # same ns→µs (and NTZ→timestamp) normalization as plans/tables.py
    src = _normalize_event_ts(src)

    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = f"st1_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st1-ckpt-") as ckpt, _stream_shuffle(spark):
        # AvailableNow drains the whole backlog in this one call, so the
        # checkpoint is dead state once the query terminates — scope it
        # to the drain (a restartable deployment passes a durable dir).
        query = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink).select(
        "event_type", F.col("w.start").alias("window_start"), "n_events"
    )


def stream_silver_arxiv(
    spark: SparkSession,
    catalog,
    landing_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Silver arxiv as a streaming job: every landing file ever dropped
    in ``landing_dir`` flows through the typed projection exactly once
    (checkpointed source offsets), is deduped on the surrogate key
    within the stream, and foreachBatch-merged into silver.arxiv.

    Returns {'batches': n} after draining with AvailableNow."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from bc_proj3_spark.operators import incremental as inc
    from bc_proj3_spark.pipeline.silver import SOURCES

    arxiv = SOURCES["arxiv"]

    entry = StructType(
        [
            StructField("id", StringType()),
            StructField("updated", StringType()),
            StructField("title", StringType()),
            StructField("summary", StringType()),
        ]
    )
    schema = StructType(
        [StructField("feed", StructType([StructField("entry", ArrayType(entry))]))]
    )

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger or 10)
        .json(landing_dir)
    )
    flat = src.select(F.explode("feed.entry").alias("e")).select("e.*")
    keyed = arxiv.keyed(flat.select(*arxiv.columns()))

    n_batches = {"batches": 0}

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        n_batches["batches"] += 1
        # a micro-batch can span several landing files (AvailableNow
        # drains the backlog), so the same article id may appear at
        # several versions WITHIN the batch — resolve to the newest
        # before merging, the in-batch form of update-if-newer.
        w = Window.partitionBy("id").orderBy(
            F.desc("version"), F.desc("updated_dt"), F.desc("arx_sk")
        )
        batch = (
            batch_df.dropDuplicates(["arx_sk"])
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if not catalog.exists("silver", "arxiv_stream"):
            catalog.overwrite("silver", "arxiv_stream", batch)
            return
        tgt = catalog.read("silver", "arxiv_stream")
        res = inc.merge_upsert(
            tgt,
            batch,
            key="id",
            update_when=F.col("src.version") > F.col("tgt.version"),
        )
        try:
            catalog.overwrite("silver", "arxiv_stream", res.df)
        finally:
            res.cleanup()

    query = (
        keyed.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return n_batches


# ---------------------------------------------------------------------------
# st3 — streaming session windows (gap-based, engine-native)
# ---------------------------------------------------------------------------

#: Mirrors plans/events.py SESSION_GAP_US (30 min) — but session_window's
#: boundary differs from e2's lag-rewrite at EXACTLY the gap: Spark
#: merges an event into a session while event_ts < window_end
#: (= prev_ts + gap), so equality starts a NEW session, whereas e2's
#: `gap > threshold` keeps it. The oracle below uses >= to replay
#: session_window's semantics exactly.
_ST3_GAP = "30 minutes"
_ST3_GAP_US = 30 * 60 * 1_000_000

_ST3_ORACLE = f"""
WITH flagged AS (
  SELECT
    user_id, ts, event_id, value,
    CASE
      WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL THEN 1
      WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= {_ST3_GAP_US} THEN 1
      ELSE 0
    END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *,
    SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_seq
  FROM flagged
)
SELECT
  user_id,
  MIN(ts) AS session_start,
  MAX(ts) + INTERVAL '{_ST3_GAP}' AS session_end,
  COUNT(*) AS n_events,
  {{dec_sum}}
FROM sessions
GROUP BY user_id, session_seq
"""


def _st3_oracle() -> str:
    from bc_proj3_spark.functions.numeric import sql_dec_sum

    return _ST3_ORACLE.format(dec_sum=sql_dec_sum("value", "session_value"))


@register("st3_stream_session_windows", _st3_oracle())
def st3_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions computed by Spark's NATIVE streaming session
    windows (``F.session_window`` — state merges adjacent windows as
    events arrive, the operator Spark added for exactly this shape),
    drained with AvailableNow into a memory sink. The DuckDB oracle is
    the batch lag+running-sum islands rewrite (e2's shape) with the
    boundary matched to session_window's merge rule, so the streaming
    state machinery is held to exact value equality — including the
    decimal-exact session value sums. At scale: state is partitioned by
    user_id, the 1-hour watermark closes sessions and bounds state;
    complete mode here only because the memory-sink drain verifies ALL
    windows (a live deployment emits finalized sessions in append
    mode)."""
    from bc_proj3_spark.functions.numeric import dec_sum

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = _normalize_event_ts(src)

    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", _ST3_GAP).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "session_value"),
        )
    )
    sink = f"st3_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st3-ckpt-") as ckpt, _stream_shuffle(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink).select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "session_value",
    )


# ---------------------------------------------------------------------------
# st2 — custom stateful operator: applyInPandasWithState running totals
# ---------------------------------------------------------------------------

_ST2_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value6
FROM events
GROUP BY user_id
"""


def _running_totals(key, pdf_iter, state):
    """Per-user running (count, sum) kept in GroupState across
    micro-batches; emits the updated totals whenever the group sees
    rows. The canonical applyInPandasWithState shape for custom
    aggregations Spark's built-ins can't express."""
    import pandas as pd

    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value6": [round(total, 6)],
        }
    )


@register("st2_stateful_user_totals", _ST2_ORACLE)
def st2_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user running totals via
    ``applyInPandasWithState`` (arbitrary state, Arrow-batched groups),
    drained with AvailableNow into a memory sink. After the backlog
    drains, the emitted state equals the batch GROUP BY — which is
    exactly what the oracle checks, holding the stateful path to the
    same value bar as everything else. At scale the state store is
    per-key partitioned (shuffle on user_id) and checkpointed; a live
    stream would add a state TTL/timeout for eviction."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = _normalize_event_ts(src)

    out = src.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType="user_id long, n_events long, total_value6 double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = f"st2_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st2-ckpt-") as ckpt, _stream_shuffle(spark):
        # checkpoint scoped to the AvailableNow drain, as in st1
        query = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# st4 — streaming exact deduplication (exactly-once ingest semantics)
# ---------------------------------------------------------------------------

_ST4_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("st4_stream_dedup", _ST4_ORACLE)
def st4_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the distinct (user_id, event_type) pairs
    emitted by ``dropDuplicates`` running INSIDE a streaming query
    (per-key state store; each key emits exactly once, on first
    arrival), drained with AvailableNow into a memory sink. After the
    backlog drains the emitted set equals the batch DISTINCT — which is
    what the oracle checks. Only key columns are selected, so the
    output is deterministic regardless of which physical row arrived
    first.

    This is the exactly-once ingest primitive of a training-data
    pipeline (the streaming twin of the reference's batch dedup-insert,
    silver_nyt_archive.py:102-120). At scale the dedup state is
    partitioned by key in the state store; a live deployment bounds it
    with ``dropDuplicatesWithinWatermark`` so keys age out after the
    late-data horizon instead of accumulating forever."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = _normalize_event_ts(src)

    deduped = src.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    sink = f"st4_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st4-ckpt-") as ckpt, _stream_shuffle(spark):
        query = (
            deduped.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# st5 — stream-stream interval join (view → purchase attribution)
# ---------------------------------------------------------------------------

_ST5_ORACLE = """
SELECT v.user_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


@register("st5_stream_stream_join", _ST5_ORACLE)
def st5_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join: every purchase joined to each view
    by the same user in the preceding hour — the streaming attribution
    twin of the batch interval join (e8) and as-of join (e3). Both
    sides are real streaming sources with watermarks; the time-range
    predicate is what lets Spark bound the join state (each side's
    buffered rows age out once the other side's watermark passes the
    interval), which is the property that makes stream-stream joins
    viable at all at scale — an unconstrained stream join would buffer
    both streams forever. Drained with AvailableNow into a memory sink;
    the drained result equals the batch interval join, which is exactly
    what the oracle checks (append is the only supported mode for
    stream-stream inner joins, so every emitted row is final)."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    def _src():
        s = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return _normalize_event_ts(s)

    views = (
        _src()
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        _src()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")
        ),
    ).select("user_id", "view_ts", "purchase_ts", "purchase_value")
    sink = f"st5_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st5-ckpt-") as ckpt, _stream_shuffle(spark):
        query = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# st6 — append-mode windowed aggregation (finalized-window emission)
# ---------------------------------------------------------------------------

_ST6_ORACLE = """
SELECT event_type,
       date_trunc('hour', ts) AS window_start,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type, date_trunc('hour', ts)
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
       <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
"""


@register("st6_stream_append_windows", _ST6_ORACLE)
def st6_stream_append_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st1's hourly counts in APPEND output mode — the mode a live
    deployment actually runs, where a window row is emitted exactly
    once, only after the event-time watermark passes its end (finalized;
    late data inside the delay was still merged, later data is dropped).
    The drain therefore emits precisely the windows whose end ≤
    final watermark = max(ts) − 1 h, and the oracle pins that emission
    rule in SQL (the HAVING clause) — windows still open when the
    backlog ends are withheld, which is the correctness property append
    mode exists for. Complete-mode st1 checks the VALUES; this checks
    the EMISSION CONTRACT."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = _normalize_event_ts(src)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = f"st6_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st6-ckpt-") as ckpt, _stream_shuffle(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink).select(
        "event_type", F.col("w.start").alias("window_start"), "n_events"
    )


# ---------------------------------------------------------------------------
# st7 — stream-STATIC enrichment join (dimension lookup per micro-batch)
# ---------------------------------------------------------------------------

_ST7_ORACLE = """
SELECT c.c_mktsegment, e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(28,10))) AS DOUBLE) AS value_sum
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""


@register("st7_stream_static_join", _ST7_ORACLE)
def st7_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the event stream enriched against the static
    customer dimension, then aggregated per (segment, event type) —
    the canonical streaming-enrichment shape (clickstream × user
    profile). The static side needs no watermark and holds no join
    state: Spark re-plans it per micro-batch as an ordinary broadcast
    lookup, which is why dimension enrichment is cheap in streams while
    stream-stream joins (st5) need state on both sides. Aggregation
    runs in complete mode (the segment×type matrix is tiny); the drain
    is AvailableNow, and the final sink contents must value-match the
    batch join+groupBy oracle exactly (sums in exact decimal)."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = _normalize_event_ts(src)
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    # customer scales with SF (1.5e5·SF rows) — gate the static-side
    # hint on a measured count instead of broadcasting unconditionally
    enriched = src.join(
        gated_broadcast(dim), src["user_id"] == dim["c_custkey"]
    )
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,10)"))
        .cast("double")
        .alias("value_sum"),
    )
    sink = f"st7_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st7-ckpt-") as ckpt, _stream_shuffle(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# st8 — streaming change-feed apply via foreachBatch + merge_upsert
# ---------------------------------------------------------------------------

def _st8_oracle() -> str:
    from bc_proj3_spark.operators.cdc import _CDC3_ORACLE

    return _CDC3_ORACLE


@register("st8_stream_apply_changes", _st8_oracle())
def st8_stream_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cdc3's change-feed replay run as a STREAMING ingest: the feed
    (upserts carrying v2 values + delete markers) lands as four files,
    a file-stream source reads them one per micro-batch
    (maxFilesPerTrigger=1), and ``foreachBatch`` applies each batch
    through the REAL :func:`merge_upsert` path followed by the
    delete anti-join — the continuous-MERGE pattern a production CDC
    sink runs (Delta's streaming MERGE INTO; the reference's batch
    merge, silver_arxiv.py:130-152, promoted to a stream). After the
    drain, the maintained table must equal the v2 snapshot EXACTLY —
    the same oracle as cdc3, now earned through streaming machinery.

    The feed is hash-partitioned on the merge key, so each key appears
    in exactly one micro-batch and batch ORDER cannot matter — the
    idempotent-partition property that lets a real deployment run
    parallel apply workers. The maintained state is localCheckpoint-ed
    after each merge (the iterative-lineage defense, same as graph.py)
    and the per-batch cost is merge's two key joins + one anti join on
    BATCH-sized inputs, never a full-table rewrite.

    100 TB: swap the memory-held current table for a catalog table
    (Catalog.merge is partition-scoped) and the temp dir for the real
    feed topic; checkpointed source offsets make redelivery exactly-once."""
    import shutil

    from bc_proj3_spark.operators.cdc import _VALUE_COLS, _snapshots
    from bc_proj3_spark.operators.incremental import merge_upsert

    v1, v2 = _snapshots(table(spark, sf_dir, "orders"))

    # change feed: inserts/updates carry v2 values, deletes key only
    ups = (
        v2.alias("b")
        .join(v1.alias("a"), "o_orderkey", "left")
        .filter(
            F.col(f"a.{_VALUE_COLS[0]}").isNull()
            | ~_st8_same_cols()
        )
        .select("o_orderkey", *[f"b.{c}" for c in _VALUE_COLS])
        .withColumn("change_type", F.lit("upsert"))
    )
    dels = (
        v1.join(v2, "o_orderkey", "left_anti")
        .select("o_orderkey")
        .withColumn("change_type", F.lit("delete"))
    )
    for c in _VALUE_COLS:
        dels = dels.withColumn(c, F.lit(None).cast(dict(v1.dtypes)[c]))
    feed = ups.select("o_orderkey", "change_type", *_VALUE_COLS).unionByName(
        dels.select("o_orderkey", "change_type", *_VALUE_COLS)
    )

    feed_dir = _scratch_mkdtemp(prefix="st8-feed-")
    ckpt = _scratch_mkdtemp(prefix="st8-ckpt-")
    state = {"cur": v1.localCheckpoint(eager=True)}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # r11 per-batch job trim: no eager localCheckpoint of the batch
        # (it is one small parquet file the source just listed — its two
        # filter branches re-scan it for less than the checkpoint job
        # cost) and no merge metric counts (eager_metrics=False; the
        # one localCheckpoint action below materializes the merge's
        # persisted branches). 3 jobs/batch → 1.
        b_ups = batch_df.filter(F.col("change_type") == "upsert").select(
            "o_orderkey", *_VALUE_COLS
        )
        b_del = batch_df.filter(F.col("change_type") == "delete").select(
            "o_orderkey"
        )
        changed = F.lit(False)
        for c in _VALUE_COLS:
            changed = changed | ~F.col(f"tgt.{c}").eqNullSafe(F.col(f"src.{c}"))
        res = merge_upsert(
            state["cur"],
            b_ups,
            key="o_orderkey",
            update_when=changed,
            eager_metrics=False,
        )
        cur = res.df.join(b_del, "o_orderkey", "left_anti").localCheckpoint(
            eager=True
        )
        res.cleanup()
        state["cur"] = cur

    try:
        # one file per hash partition of the key -> one micro-batch each
        feed.repartition(4, "o_orderkey").write.mode("overwrite").parquet(feed_dir)
        src = (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )
        with _stream_shuffle(spark):
            q = (
                src.writeStream.foreachBatch(_apply)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return state["cur"].select("o_orderkey", *_VALUE_COLS)
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _st8_same_cols():
    from bc_proj3_spark.operators.cdc import _VALUE_COLS

    same = F.lit(True)
    for c in _VALUE_COLS:
        same = same & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    return same


# ---------------------------------------------------------------------------
# st9 — streaming HLL register maintenance (sketch state in the stream)
# ---------------------------------------------------------------------------

from bc_proj3_spark.operators.sketch import (  # noqa: E402
    _SK3_ORACLE,
    HLL_M,
    HLL_P,
    HLL_W_BITS,
)


@register("st9_stream_hll_registers", _SK3_ORACLE)
def st9_stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL register file (sk3) maintained BY A STREAM: the same
    md5-family hash → register/rho mapping runs inside a streaming
    groupBy-MAX whose state IS the sketch (one bounded row per
    (event_type, register) — ≤ m rows/group forever, the whole point
    of sketch-shaped streaming state vs unbounded distinct sets).
    Drained with AvailableNow in complete mode, the emitted register
    file must equal the batch-built file bit for bit — so this
    streaming query is held to sk3's EXACT value-hash oracle, not a
    rows-only check. At 100 TB/day the same topology runs unbounded:
    partial MAX absorbs upstream, state stays m-bounded, and any
    snapshot of the sink is a mergeable shard (sk8's merge law)."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = _normalize_event_ts(src)

    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    w = F.shiftright(F.col("h"), HLL_P)
    rho = F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    regs = (
        src.select("event_type", h)
        .groupBy(
            "event_type",
            (F.col("h") % F.lit(HLL_M)).cast("bigint").alias("register_id"),
        )
        .agg(F.max(rho).cast("int").alias("max_rho"))
    )
    sink = f"st9_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st9-ckpt-") as ckpt, _stream_shuffle(spark):
        query = (
            regs.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# st10 — sliding (overlapping) windows in a streaming aggregation
# ---------------------------------------------------------------------------

_ST10_ORACLE = """
WITH hits AS (
  SELECT event_type, date_trunc('hour', ts) AS ws FROM events
  UNION ALL
  SELECT event_type, date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events
)
SELECT event_type, ws AS window_start, COUNT(*) AS n_events
FROM hits
GROUP BY event_type, ws
"""


@register("st10_stream_sliding_windows", _ST10_ORACLE)
def st10_stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-2-hour event counts per type on a 1-hour slide, computed
    by a streaming query with OVERLAPPING windows — the operator behind
    every "last N hours" live metric. Unlike st1's tumbling windows,
    ``F.window(ts, '2 hours', '1 hour')`` assigns each event to TWO
    window instances, so the streaming state holds slide-many open
    copies per key and the watermark finalizes each as its end passes.
    The batch oracle replays the window-instance expansion explicitly
    (each event unioned into both its hour-aligned window starts), so
    the overlap semantics — not just totals — are value-verified.

    Scale: state is (types × open-windows) rows regardless of event
    volume; the 1-hour watermark closes instances, bounding open copies
    at duration/slide + late-horizon. Same AvailableNow drain contract
    as st1."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = _normalize_event_ts(src)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = f"st10_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st10-ckpt-") as ckpt, _stream_shuffle(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink).select(
        "event_type", F.col("w.start").alias("window_start"), "n_events"
    )


# ---------------------------------------------------------------------------
# st11 — CountSketch maintained BY A STREAM (signed turnstile state)
# ---------------------------------------------------------------------------


def _st11_oracle() -> str:
    from bc_proj3_spark.operators.sketch import CS_DEPTH, _cs_sql_row

    return f"""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
  FROM documents
),
cells AS (
  {' UNION ALL '.join(_cs_sql_row(i, 'tok', 't') for i in range(CS_DEPTH))}
)
SELECT CAST(row_id AS INTEGER) AS row_id,
       CAST(col_id AS BIGINT) AS col_id,
       CAST(SUM(sgn) AS BIGINT) AS c
FROM cells GROUP BY row_id, col_id
"""


@register("st11_stream_countsketch", _st11_oracle())
def st11_stream_countsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sk13's CountSketch cell file maintained BY A STREAM: the token
    explode and the ±1-signed bucket mapping run map-side inside a
    streaming query whose groupBy-SUM state IS the sketch — ≤ D×W
    bounded rows forever, and because the state is a SIGNED sum it is
    exactly the turnstile-model sketch (a retraction batch with
    flipped signs would subtract cleanly, which the st9 HLL-MAX state
    cannot do). Drained with AvailableNow in complete mode, the
    emitted cells must equal the batch-built sketch bit for bit, so
    this streaming query is held to an EXACT value-hash oracle, not a
    rows-only check. At 100 TB/day the same topology runs unbounded:
    partial SUM absorbs upstream, state stays D×W-bounded, and any
    snapshot of the sink merges with other shards by cell addition."""
    from bc_proj3_spark.functions.hashing import hash32
    from bc_proj3_spark.operators.sketch import CS_DEPTH, CS_SEED0, CS_WIDTH

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    tok = src.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("t")
    )
    rows = []
    for i in range(CS_DEPTH):
        h = hash32(F.col("t"), seed=CS_SEED0 + i)
        rows.append(
            F.struct(
                F.lit(i).alias("row_id"),
                (h % CS_WIDTH).alias("col_id"),
                F.when(
                    F.shiftright(h, 8).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                )
                .otherwise(F.lit(-1))
                .alias("sgn"),
            )
        )
    cells = tok.select(F.explode(F.array(*rows)).alias("c")).select(
        F.col("c.row_id").cast("int").alias("row_id"),
        F.col("c.col_id").cast("bigint").alias("col_id"),
        F.col("c.sgn").alias("sgn"),
    )
    sketch = cells.groupBy("row_id", "col_id").agg(
        F.sum("sgn").cast("bigint").alias("c")
    )
    sink = f"st11_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st11-ckpt-") as ckpt, _stream_shuffle(spark):
        query = (
            sketch.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# st12 — streaming ingest decontamination (stream-static ANTI join)
# ---------------------------------------------------------------------------

def _st12_oracle() -> str:
    from bc_proj3_spark.functions.hashing import sql_hash60
    from bc_proj3_spark.operators.sampling import TRAIN_PCT, _sql_seeded

    return f"""
WITH evalfp AS (
  SELECT DISTINCT md5(text) AS fp FROM documents
  WHERE {sql_hash60(_sql_seeded('split', 'CAST(doc_id AS VARCHAR)'))} % 100
        >= {TRAIN_PCT}
)
SELECT lang, source,
       COUNT(*) AS n_admitted,
       CAST(SUM(n_chars) AS BIGINT) AS chars_admitted
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM evalfp WHERE evalfp.fp = md5(d.text))
GROUP BY lang, source
"""


@register("st12_stream_decontaminate", _st12_oracle())
def st12_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination AT INGEST: the document stream is admitted
    through a stream-static LEFT ANTI join against the eval-set
    content fingerprints (sp1's val/test docs, d7's exact-hash
    semantics) and the admitted volume is rolled up per (lang, source).
    This is the shape that keeps a training corpus clean CONTINUOUSLY —
    batch decontamination (d7/d15) audits what already landed; the
    anti-join stream refuses contaminated pages as they arrive, so the
    next snapshot needs no repair. Anti joins are the one join mode
    where streaming semantics are subtle (a static match must suppress
    the row, not enrich it); the drain is held to exact value equality
    with the batch NOT EXISTS oracle.

    Scale shape: the static side is the (distinct) eval fingerprint
    set — bounded by the eval split (~10 % of doc COUNT but only 16
    bytes each), gated-broadcast per micro-batch; the stream side is
    stateless (no watermark, no join state — every decision is local
    to the arriving row), so ingest throughput is scan-speed. The
    roll-up runs in complete mode over a (lang × source)-bounded
    matrix."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    from bc_proj3_spark.functions.hashing import hash60
    from bc_proj3_spark.operators.sampling import TRAIN_PCT, _seeded

    docs = table(spark, sf_dir, "documents")
    evalfp = (
        docs.filter(
            hash60(_seeded("split", F.col("doc_id").cast("string"))) % 100
            >= TRAIN_PCT
        )
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    admitted = src.withColumn("fp", F.md5("text")).join(
        gated_broadcast(evalfp), "fp", "left_anti"
    )
    agg = admitted.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_admitted"),
        F.sum("n_chars").cast("bigint").alias("chars_admitted"),
    )
    sink = f"st12_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st12-ckpt-") as ckpt, \
            _stream_shuffle(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# st13 — streaming admission ledger (pipe2's reason-mix, at ingest)
# ---------------------------------------------------------------------------

def _st13_oracle() -> str:
    from bc_proj3_spark.operators.corpus import _PIPE2_ORACLE

    return f"""
WITH led AS (
{_PIPE2_ORACLE}
)
SELECT outcome,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS chars_total
FROM led JOIN documents d USING (doc_id)
GROUP BY outcome
"""


@register("st13_stream_admission_ledger", _st13_oracle())
def st13_stream_admission_ledger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """pipe2's admission ledger, maintained AT INGEST: the arriving
    batch streams through two stream-static joins — the f1 quality
    decision and d8's duplicate verdict against the existing corpus —
    and the reason-mix counters (quality-rejected / duplicate /
    admitted, with character volume) update per micro-batch. pipe2 is
    the ledger a backfill publishes once; this drain is the live
    dashboard an ingest service actually watches — quality rejects
    spiking vs duplicate rejects spiking distinguishes a crawler
    regression from a recrawl loop WHILE it happens, not at the next
    batch audit. Held to exact value equality with the batch oracle
    (pipe2's own spliced CTE text, rolled up).

    Scale shape: both static sides are doc-id sets behind measured
    gated broadcasts (f1-pass ids and d8's admitted ids — bytes per
    row, corpus-bounded but skinny); the stream side is stateless
    (every admission decision is local to the arriving row — no
    watermark, no join state), so ingest throughput is scan-speed;
    the roll-up is a 3-row complete-mode matrix."""
    from bc_proj3_spark.operators.dedup import (
        D8_BATCH_MOD,
        D8_BATCH_REM,
        d8_admitted_artifact,
    )
    from bc_proj3_spark.operators.ranking import f1_passed_artifact

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    batch = src.filter(F.col("doc_id") % D8_BATCH_MOD == D8_BATCH_REM)
    passed = f1_passed_artifact(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("ok")
    )
    admitted = d8_admitted_artifact(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("adm")
    )
    led = (
        batch.join(gated_broadcast(passed), "doc_id", "left")
        .join(gated_broadcast(admitted), "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.when(F.col("ok").isNull(), "quality")
            .when(F.col("adm").isNull(), "duplicate")
            .otherwise("admitted")
            .alias("outcome"),
        )
    )
    agg = led.groupBy("outcome").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )
    sink = f"st13_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st13-ckpt-") as ckpt, \
            _stream_shuffle(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# st14 — streaming corpus token meter (the "are we at 1T tokens yet" tile)
# ---------------------------------------------------------------------------


def _st14_oracle() -> str:
    from bc_proj3_spark.operators.textstats import BPE_RE

    return f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(lower(text), '{BPE_RE}')))
            AS BIGINT) AS token_sum,
       CAST(SUM(n_chars) AS BIGINT) AS char_sum
FROM documents
GROUP BY lang
"""


@register("st14_stream_token_budget", _st14_oracle())
def st14_stream_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus token METER maintained by a stream: per-language
    running document, BPE-token and character totals updated per
    arriving micro-batch — the live tile a collection campaign watches
    ("how far to the 1T-token target, and in which languages"), next
    to st13's admission reasons. Batch jobs (t5, sp17) price a corpus
    after the fact; this maintains the bill AT INGEST. Drained with
    AvailableNow and held to exact equality with the batch GROUP BY
    oracle.

    Scale shape: the token price is a stateless per-row projection
    (shared BPE_RE segmentation, the t5/sp4 convention); the state is
    the languages×3-counters aggregate — O(languages) rows forever,
    the cheapest possible streaming state; complete-mode emission is
    the dashboard table itself."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    from bc_proj3_spark.operators.textstats import BPE_RE

    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    tokens = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_RE), F.lit(0))
    ).cast("bigint")
    agg = src.select("lang", tokens.alias("tok"), "n_chars").groupBy(
        "lang"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("token_sum"),
        F.sum("n_chars").cast("bigint").alias("char_sum"),
    )
    sink = f"st14_sink_{uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix="st14-ckpt-") as ckpt, \
            _stream_shuffle(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(sink)
