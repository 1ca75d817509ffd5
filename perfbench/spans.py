"""Spans around the program's layer boundaries, recorded from outside.

The tracer wraps public functions of the program's modules for the
length of a traced operation and restores them afterwards. Each call
becomes a span (name, start, end, parent, run id); spans stay in memory
and are written out when the run ends. A span marked as a *group* also
names the Spark job group of the work it triggers, so jobs, tasks and
task time from the Spark event log can be attributed to it.

``pipeline.runner`` binds the bronze and silver stage functions into
tuples when it is imported, so wrapping those module attributes would
miss the calls. The bronze and silver stages are therefore recognised
from the calls the runner does make through attributes: a pipeline run
starts in bronze, whose only catalog calls are ``overwrite`` of bronze
tables; the first other catalog call (silver's guard
``exists("bronze", ...)``) starts silver; ``gold.gold_words`` ends it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

#: catalog verbs that write a table, whose output files are counted
_CATALOG_WRITES = ("overwrite", "overwrite_partitions", "append")
#: catalog verbs that are timed as spans
_CATALOG_SPANS = _CATALOG_WRITES + ("read", "exists", "drop", "log_operation")


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_ino)
    return out


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.groups: list[str] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._patches: list[tuple[object, str, object]] = []
        self._stage: dict | None = None

    # -- spans ------------------------------------------------------------

    def open(self, name: str, group: bool = False, **attrs) -> dict:
        span = {"id": len(self.spans), "parent": self.stack[-1]["id"] if self.stack else None,
                "name": name, "run": self.run_id, "start": time.perf_counter(),
                "end": None, "attrs": attrs}
        self.spans.append(span)
        self.stack.append(span)
        if group:
            span["group"] = True
            self.groups.append(name)
            self._set_group(name)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        while self.stack and self.stack[-1] is not span:
            self.close(self.stack[-1])  # close children left open (stages)
        if self.stack:
            self.stack.pop()
        if span.get("group"):
            self.groups.pop()
            self._set_group(self.groups[-1] if self.groups else None)

    def _set_group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{self.run_id}|{name}", name)

    def span(self, name: str, group: bool = False, **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.open(name, group, **attrs)
                return self.s

            def __exit__(self, *exc):
                if exc[0] is not None:
                    self.s["attrs"]["error"] = repr(exc[1])
                tracer.close(self.s)
                return False

        return _Ctx()

    # -- wrapping -----------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        """Wrap the pipeline layers' public functions."""
        from bc_proj3_spark.catalog import Catalog
        from bc_proj3_spark.io import landing
        from bc_proj3_spark.operators import incremental
        from bc_proj3_spark.pipeline import gold

        tracer = self

        def plain(name):
            def make(orig):
                def wrapped(*a, **kw):
                    with tracer.span(name):
                        return orig(*a, **kw)
                return wrapped
            return make

        def gold_stage(name):
            def make(orig):
                def wrapped(*a, **kw):
                    tracer._end_stage()
                    with tracer.span(name, group=True):
                        return orig(*a, **kw)
                return wrapped
            return make

        def catalog_verb(verb):
            def make(orig):
                def wrapped(cat, layer, name, *a, **kw):
                    tracer._on_catalog(verb, layer)
                    path = str(cat.path(layer, name)) if verb in _CATALOG_WRITES else None
                    before = _files(path) if path and os.path.isdir(path) else {}
                    with tracer.span(f"catalog.{verb}", layer=layer, table=name):
                        out = orig(cat, layer, name, *a, **kw)
                    if path:
                        tracer._count_write(path, before)
                    return out
                return wrapped
            return make

        self._patch(landing, "select_batch_file", plain("landing.select"))
        self._patch(incremental, "merge_upsert", plain("incremental.merge"))
        self._patch(incremental, "dedup_insert", plain("incremental.dedup"))
        self._patch(incremental, "resolve_watermark", plain("incremental.watermark"))
        self._patch(incremental, "write_watermark", plain("incremental.watermark"))
        self._patch(gold, "gold_words", gold_stage("gold.words"))
        self._patch(gold, "gold_scoring", gold_stage("gold.scoring"))
        for verb in _CATALOG_SPANS:
            self._patch(Catalog, verb, catalog_verb(verb))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- pipeline stages ----------------------------------------------------

    def begin_pipeline(self) -> dict:
        span = self.open("pipeline.run", group=True)
        self._stage = self.open("bronze", group=True)
        return span

    def end_pipeline(self, span: dict) -> None:
        self._end_stage()
        self.close(span)

    def _end_stage(self) -> None:
        if self._stage is not None:
            self.close(self._stage)
            self._stage = None

    def _on_catalog(self, verb: str, layer: str) -> None:
        st = self._stage
        if st is not None and st["name"] == "bronze" and not (
            verb == "overwrite" and layer == "bronze"
        ):
            self.close(st)
            self._stage = self.open("silver", group=True)

    def _count_write(self, path: str, before: dict) -> None:
        import pyarrow.parquet as pq

        after = _files(path) if os.path.isdir(path) else {}
        new = [p for p, sig in after.items() if before.get(p) != sig]
        for p in new:
            self.counts["catalog.files_written"] += 1
            self.counts["catalog.bytes_written"] += after[p][0]
            self.counts["catalog.rows_written"] += pq.read_metadata(p).num_rows

    # -- output ---------------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus the time its
        direct children cover (children of one span never overlap here:
        the program calls its layers from one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [dict(s, start=s["start"] - t0, end=(s["end"] or t0) - t0) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": spans, "counts": dict(self.counts), **extra}, fh)


def engine_metrics(eventlog_dir: str, run_id: str) -> tuple[dict, dict]:
    """Spark engine totals over the jobs whose job group belongs to
    ``run_id`` (traced operations only), and per-group job/task totals.

    Read from the Spark event log after the session stopped."""
    # Spark 4 writes a rolling log: a directory of events_* files
    files = sorted(os.path.join(d, f) for d, _dirs, names in os.walk(eventlog_dir)
                   for f in names if f.startswith("events_"))
    stage_group: dict[int, str] = {}
    submitted: dict[int, float] = {}
    tot = defaultdict(float)
    per_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    prefix = run_id + "|"
    tasks = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not grp.startswith(prefix):
                        continue
                    g = grp[len(prefix):]
                    tot["spark.jobs"] += 1
                    per_group[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if info.get("Submission Time"):
                        submitted[info["Stage ID"]] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        g = stage_group.get(ev["Stage ID"])
        if g is None:
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        tot["spark.tasks"] += 1
        per_group[g]["tasks"] += 1
        cpu = m.get("Executor CPU Time", 0) / 1e9
        tot["spark.task_cpu_s"] += cpu
        per_group[g]["task_cpu_s"] += cpu
        sub = submitted.get(ev["Stage ID"])
        if sub is not None:
            tot["spark.sched_wait_s"] += max(0, info["Launch Time"] - sub) / 1000.0
        tot["spark.shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        tot["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
        tot["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") not in (None, "Success"):
            tot["spark.failed_tasks"] += 1
    return dict(tot), {g: dict(v) for g, v in per_group.items()}
