"""The benchmark's workloads: what one operation is, how inputs are
made, and how outputs are checked.

Both workloads are closed-loop with one client: the next operation
starts when the previous one returns.

- ``daily_catchup``: one operation is one run date of the pipeline's
  catch-up into a single warehouse (land the day's three batches, then
  ``run_pipeline``). Days 1-2 are the warm-up: the CREATE path, then the
  first MERGE day.
- ``query_mix``: one operation is one pass over registered queries, each
  built through ``__spark_entry__.queries()`` and executed into the
  ``noop`` sink.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import articles
import goldref

#: Registered queries of the mix, each with a DuckDB oracle: one or two
#: per query family (plans.tpch, plans.events, operators.ranking,
#: operators.dedup, operators.similarity, streaming.incremental). The
#: graph family is left out: its cheapest query (g3) alone costs as much
#: as four of the others, more than a run can spend.
QUERY_MIX = (
    "q1_pricing_summary", "q18_large_volume_customer",
    "e2_sessionization", "bm1_bm25_topk", "d2_dedup_survivors",
    "s1_knn_bruteforce", "st7_stream_static_join",
)

#: articles landed per run date and source
DAILY_SIZES = {"arxiv": 300, "nyt": 300, "scholar": 80}
#: query-mix table scale; 1.0 is 1500 customers / 15000 orders
QUERY_SCALE = 0.2


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Op:
    """One operation's record."""

    __slots__ = ("latency", "articles", "new_rows", "error", "traced", "parts")

    def __init__(self, latency, articles=0, new_rows=0, error=None, traced=False, parts=None):
        self.latency = latency
        self.articles = articles
        self.new_rows = new_rows
        self.error = error
        self.traced = traced
        self.parts = parts or {}


class DailyCatchup:
    """Consecutive run dates into one warehouse."""

    warmup_ops = 2
    min_ops = 2

    def __init__(self, spark, work: str, seed: int):
        from bc_proj3_spark.catalog import Catalog

        self.spark = spark
        self.landing = os.path.join(work, "landing")
        self.warehouse = os.path.join(work, "warehouse")
        self.catalog = Catalog(spark, self.warehouse)
        self.model = articles.ArticleModel(seed, DAILY_SIZES)
        self.day = 0
        self.space_amp = None
        self.counts = {"silver_rows_read": 0, "silver_useful": 0, "gold_rows_scored": 0}
        self.gold_stats: dict = {}

    def warmup(self) -> list[Op]:
        return [self.op() for _ in range(self.warmup_ops)]

    def op(self, tracer=None) -> Op:
        from bc_proj3_spark.pipeline import runner

        self.day += 1
        landed = self.model.land(self.day, self.landing)
        span = tracer.begin_pipeline() if tracer else None
        t0 = time.perf_counter()
        try:
            results = runner.run_pipeline(self.spark, self.catalog, self.landing,
                                          articles.run_date(self.day))
            error = None
        except Exception as exc:  # counted as a failed operation
            results, error = {}, repr(exc)
        latency = time.perf_counter() - t0
        if span is not None:
            tracer.end_pipeline(span)
        if error is None:
            bad = [r.name for r in results.values() if r.status != runner.LOADED]
            if bad:
                error = f"stages not loaded: {bad}"
        if tracer and error is None:
            silver = [results[n] for n in ("silver_arxiv", "silver_nyt", "silver_scholar")]
            self.counts["silver_rows_read"] += sum(r.rows for r in silver)
            self.counts["silver_useful"] += sum(
                r.metrics.get("inserted", 0) + r.metrics.get("updated", 0) for r in silver)
            self.counts["gold_rows_scored"] += results["gold_words"].rows
        if self.day == self.warmup_ops + self.min_ops:
            # measured on a fixed day, so it does not depend on how many
            # days a run gets through
            self.space_amp = dir_bytes(self.warehouse) / self.model.landed_bytes
        return Op(latency, landed["articles"], landed["new_silver_rows"], error, tracer is not None)

    def latency_metrics(self, ops: list[Op]) -> dict:
        lat = [o.latency for o in ops]
        return {
            "wall_s": sum(lat) / len(lat),
            "day_p50_s": statistics.median(lat),
            "query_geomean_s": geomean(lat),
            "articles_per_s": sum(o.articles for o in ops) / sum(lat),
        }

    def checks(self) -> list[tuple[str, bool, str]]:
        """Silver row counts, the arXiv version per id, and scored_articles
        against the model's prediction."""
        from pyspark.sql import functions as F

        out = []
        for table, n in self.model.expected_counts().items():
            try:
                got = self.catalog.read("silver", table).count()
                out.append((f"silver.{table}.rows", got == n, f"{got} vs {n}"))
            except Exception as exc:
                out.append((f"silver.{table}.rows", False, repr(exc)))
        try:
            rows = (self.catalog.read("silver", "arxiv").groupBy("id")
                    .agg(F.max("version").alias("v"), F.count(F.lit(1)).alias("n")).collect())
            got = {r["id"]: r["v"] for r in rows}
            dup = sum(1 for r in rows if r["n"] != 1)
            exp = self.model.expected_versions()
            wrong = sum(1 for k in exp if got.get(k) != exp[k]) + len(set(got) - set(exp))
            out.append(("silver.arxiv.max_version", wrong == 0 and dup == 0,
                        f"{wrong} ids differ, {dup} ids duplicated"))
        except Exception as exc:
            out.append(("silver.arxiv.max_version", False, repr(exc)))
        try:
            rows = (self.catalog.read("gold", "scored_articles")
                    .select("source_sk", "article_raw_score", "unique_words").collect())
            got = goldref.row_digest(tuple(r) for r in rows)
            exp, self.gold_stats = goldref.expected_scored(self.model.gold_inputs())
            out.append(("gold.scored_articles.digest", got == exp, f"{got} vs {exp}"))
        except Exception as exc:
            out.append(("gold.scored_articles.digest", False, repr(exc)))
        return out

    def input_stats(self) -> dict:
        return {**self.model.input_stats(), **self.gold_stats}


class QueryMix:
    """Passes over the registered queries of QUERY_MIX, read only. The
    warm-up is a cold pass that collects the results for the checks. The
    JIT keeps speeding passes up for several more passes, so the first
    timed pass is still the slowest; the median of three or more timed
    passes leaves it out."""

    warmup_ops = 1
    min_ops = 3

    def __init__(self, spark, work: str, seed: int):
        import tables

        import __spark_entry__ as entry
        from bc_proj3_spark import registry

        self.spark = spark
        self.dir = os.path.join(work, "tables")
        self.info = tables.generate(self.dir, seed, QUERY_SCALE)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        specs = registry.all_queries()
        self.module = {q: specs[q].builder.__module__.removeprefix("bc_proj3_spark.") for q in QUERY_MIX}
        self.results: dict[str, tuple[list, list] | str] = {}
        self.space_amp = None

    def warmup(self) -> list[Op]:
        """Cold pass that collects every result for the output checks."""
        t0, errors = time.perf_counter(), []
        for q in QUERY_MIX:
            try:
                df = self.queries[q](self.spark, self.dir)
                self.results[q] = (list(df.columns), [tuple(r) for r in df.collect()])
            except Exception as exc:
                self.results[q] = repr(exc)
                errors.append(q)
        return [Op(time.perf_counter() - t0, error=", ".join(errors) or None)]

    def op(self, tracer=None) -> Op:
        parts, errors = {}, []
        t_pass = time.perf_counter()
        pass_span = tracer.open("query.pass", group=True) if tracer else None
        for q in QUERY_MIX:
            mod = self.module[q]
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.span(f"{mod}.build", group=True, query=q):
                        df = self.queries[q](self.spark, self.dir)
                    with tracer.span(f"{mod}.sink", group=True, query=q):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    df = self.queries[q](self.spark, self.dir)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                errors.append(f"{q}: {exc!r}")
            parts[q] = time.perf_counter() - t0
        if pass_span is not None:
            tracer.close(pass_span)
        if self.space_amp is None:
            self.space_amp = dir_bytes(self.dir) / self.info["bytes"]
        return Op(time.perf_counter() - t_pass, self.info["rows"], 0,
                  "; ".join(errors) or None, tracer is not None, parts)

    def latency_metrics(self, ops: list[Op]) -> dict:
        wall = statistics.median(o.latency for o in ops)
        return {
            "wall_s": wall,
            "day_p50_s": statistics.median(x for o in ops for x in o.parts.values()),
            "query_geomean_s": geomean([statistics.median(o.parts[q] for o in ops)
                                        for q in QUERY_MIX]),
            "articles_per_s": self.info["rows"] / wall,
        }

    def checks(self) -> list[tuple[str, bool, str]]:
        import duckdb

        con = duckdb.connect()
        for name in self.info["tables"]:
            path = os.path.join(self.dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = []
        for q in QUERY_MIX:
            got = self.results.get(q)
            if not isinstance(got, tuple):
                out.append((q, False, f"query failed: {got}"))
                continue
            try:
                res = con.execute(self.oracles[q])
                exp = ([d[0] for d in res.description], res.fetchall())
                ok, detail = same_rows(got, exp)
                out.append((q, ok, detail))
            except Exception as exc:
                out.append((q, False, repr(exc)))
        con.close()
        return out

    def input_stats(self) -> dict:
        return self.info


def _canon(v):
    """Cell with its type kept: Python type name plus value, lists
    element-wise."""
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_canon(x) for x in v))
    return (type(v).__name__, v)


def _sort_key(cell) -> str:
    kind, v = cell
    if kind == "list":
        return "[" + ",".join(_sort_key(x) for x in v) + "]"
    if kind == "float":
        return f"float:{v:.9g}"
    return f"{kind}:{v!r}"


def _cells_equal(a, b) -> bool:
    (ka, va), (kb, vb) = a, b
    if ka != kb:
        return False
    if ka == "list":
        return len(va) == len(vb) and all(_cells_equal(x, y) for x, y in zip(va, vb))
    if ka == "float":
        if math.isnan(va) or math.isnan(vb):
            return math.isnan(va) and math.isnan(vb)
        return math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-12)
    return va == vb


def same_rows(got: tuple[list, list], exp: tuple[list, list]) -> tuple[bool, str]:
    """Order-insensitive comparison of two results: same column names,
    same row count, and row by row (rows sorted, cells in column-name
    order) the same types and values, doubles to a relative 1e-9 — the
    engines may differ in the last ulp (exact-decimal sums in Spark, an
    int128-to-double cast in DuckDB), which is not a wrong answer."""
    (gcols, grows), (ecols, erows) = got, exp
    if sorted(gcols) != sorted(ecols):
        return False, f"columns {sorted(gcols)} vs {sorted(ecols)}"
    if len(grows) != len(erows):
        return False, f"rows {len(grows)} vs {len(erows)}"

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(_canon(r[i]) for i in order) for r in rows]
        return sorted(out, key=lambda row: "|".join(_sort_key(c) for c in row))

    for n, (a, b) in enumerate(zip(canon(gcols, grows), canon(ecols, erows))):
        if not all(_cells_equal(x, y) for x, y in zip(a, b)):
            return False, f"rows {len(grows)}; row {n} differs: {a!r} vs {b!r}"
    return True, f"rows {len(grows)} equal"


WORKLOADS = {"daily_catchup": DailyCatchup, "query_mix": QueryMix}
