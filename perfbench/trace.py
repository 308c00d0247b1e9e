"""Span tracing around the crawl engine's layer boundaries.

The benchmark never edits the engine: :func:`install` wraps the public
functions the engine calls (``news_crawler_spark.engine.fetch_extract_pages``,
``operators.frontier.pop_round``, ``operators.seen_set.*``,
``SnapshotCatalog.write/read``, ``with_url_columns`` …) so each call
records a span ``(id, name, parent, op, start, end)``. Spans of one
round, poll or ingest share the ``op`` id.

Spark is lazy, so a wrapper that returns a DataFrame persists and counts
it before returning: the work is billed to the layer that defines it
rather than to whoever triggers it later. That changes the plan (a
cached boundary) and adds jobs — the benchmark reports that cost as the
tracing overhead (traced minus untraced op time in the same run).
``SnapshotCatalog.read`` is the exception: its span covers the open
(listing and footers) and the scan is billed to the consumer.

Each span runs its Spark jobs under its own job group, so per-span
counters (jobs, tasks, shuffle bytes, spill, executor run time) come from
the status store (``sc._jsc.sc().statusStore()``), which keeps stage data
with ``spark.ui.enabled=false``. A stage shared by several spans (a
reused shuffle) is billed once, to the first span that ran it.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from news_crawler_spark import engine as engine_mod
from news_crawler_spark.catalog import SnapshotCatalog
from news_crawler_spark.operators import frontier as frontier_ops
from news_crawler_spark.operators import seen_set

_GROUP_PREFIX = "perfbench-span-"


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:  # pruned while walking
                pass
    return total


class Tracer:
    """Spans and per-span Spark counters, kept in memory until :meth:`dump`."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._persisted: list[DataFrame] = []
        self._billed_stages: set[int] = set()
        self._op_seq = 0

    # ---------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op_seq += 1
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self._op_seq,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            if not self._stack:
                self._close_op()

    def _set_group(self, sp: dict | None) -> None:
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(_GROUP_PREFIX + str(sp["id"]), sp["name"])

    def materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Compute ``df`` now (persisted until the op ends); returns it with
        its row count."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        return df, df.count()

    def _close_op(self) -> None:
        """End of a root span: collect Spark counters for its spans (the
        listener bus is asynchronous, so drain it first) and drop the
        boundary caches."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        op = self._op_seq
        for sp in self.spans:
            if sp["op"] == op:
                sp["spark"] = c = self._spark_counters(sp)
                if sp["name"] == "fetch.fetch_extract_pages" and c["max_stage"]:
                    sp["task_s"] = self.task_durations(c["max_stage"])
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def _spark_counters(self, sp: dict) -> dict:
        """Jobs run under the span's group and the stages they ran."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        c = {
            "jobs": 0,
            "tasks": 0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
            "executor_run_s": 0.0,
            "max_stage": None,
        }
        max_run = -1
        for jid in tracker.getJobIdsForGroup(_GROUP_PREFIX + str(sp["id"])):
            c["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._billed_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage never submitted
                    continue
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                self._billed_stages.add(sid)
                run_ms = st.executorRunTime()
                c["tasks"] += st.numCompleteTasks()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["executor_run_s"] += run_ms / 1000.0
                if run_ms > max_run:
                    max_run = run_ms
                    c["max_stage"] = (sid, st.attemptId())
        return c

    def task_durations(self, stage: tuple[int, int]) -> list[float]:
        """Per-task wall seconds of one stage attempt."""
        store = self.sc._jsc.sc().statusStore()
        tasks = store.taskList(stage[0], stage[1], 100_000)
        out = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                out.append(d.get() / 1000.0)
        return out

    # ------------------------------------------------------------ analysis
    def self_seconds(self) -> dict[int, float]:
        """Span id → duration minus the time its child spans cover (one
        driver thread, so children never overlap)."""
        own = {sp["id"]: sp["end"] - sp["start"] for sp in self.spans}
        for sp in self.spans:
            if sp["parent"] is not None:
                own[sp["parent"]] -= sp["end"] - sp["start"]
        return own

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


# ------------------------------------------------------------------ wrappers
def _wrap_df(tracer: Tracer, name: str, fn, count_input: bool = False):
    """Trace a DataFrame-returning function; materialize at the boundary."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name) as sp:
            if count_input:
                sp["rows_in"] = args[0].count()
            out, sp["rows"] = tracer.materialize(fn(*args, **kwargs))
            if name == "fetch.fetch_extract_pages":
                sp["ok_rows"] = out.filter("ok").count()
            return out

    return wrapper


def _wrap_plain(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def _wrap_write(tracer: Tracer, fn):
    @functools.wraps(fn)
    def wrapper(self, table, round_no, df):
        if not tracer.enabled:
            return fn(self, table, round_no, df)
        with tracer.span("catalog.write", table=table) as sp:
            fn(self, table, round_no, df)
            sp["bytes"] = dir_bytes(self._path(table, round_no))

    return wrapper


# (owner, attribute, span name, kind): kind "df" materializes the result,
# "df_in" also counts the input rows, "plain" only times the call
_TARGETS = [
    (engine_mod.CrawlEngine, "ingest", "engine.ingest", "plain"),
    (engine_mod.CrawlEngine, "ingest_incremental", "engine.ingest_incremental", "plain"),
    (engine_mod.CrawlEngine, "step", "engine.step", "plain"),
    (engine_mod, "with_url_columns", "urls.with_url_columns", "df"),
    (seen_set, "dedup_first_wins", "seen_set.dedup_first_wins", "df_in"),
    (seen_set, "unseen_only", "seen_set.unseen_only", "df_in"),
    (frontier_ops, "allowed_by_robots", "frontier.allowed_by_robots", "df"),
    (frontier_ops, "pop_round", "frontier.pop_round", "df_in"),
    (engine_mod, "fetch_extract_pages", "fetch.fetch_extract_pages", "df"),
    (
        engine_mod,
        "documents_from_fetch_extract",
        "extract.documents_from_fetch_extract",
        "df",
    ),
    (SnapshotCatalog, "read", "catalog.read", "plain"),
]


def install(tracer: Tracer) -> None:
    """Patch every traced boundary (pass-through while ``tracer.enabled``
    is false). For the benchmark process only; never undone."""
    for owner, attr, name, kind in _TARGETS:
        fn = getattr(owner, attr)
        if kind == "plain":
            wrapped = _wrap_plain(tracer, name, fn)
        else:
            wrapped = _wrap_df(tracer, name, fn, count_input=kind == "df_in")
        setattr(owner, attr, wrapped)
    SnapshotCatalog.write = _wrap_write(tracer, SnapshotCatalog.write)


# ------------------------------------------------------------ per-layer view
# per-layer metric → the span names it covers. ``engine.admit`` is
# ``ingest`` on historical_crawl and ``ingest_incremental`` on fresh_cycle;
# ``seen_set`` is the within-batch dedup plus the anti-join against the
# seen set (the anti-join alone is ``seen_set`` minus ``dedup_first_wins``)
LAYERS = {
    "engine.step": ["engine.step"],
    "engine.admit": ["engine.ingest", "engine.ingest_incremental"],
    "catalog.write": ["catalog.write"],
    "catalog.read": ["catalog.read"],
    "urls.with_url_columns": ["urls.with_url_columns"],
    "seen_set": ["seen_set.dedup_first_wins", "seen_set.unseen_only"],
    "seen_set.dedup_first_wins": ["seen_set.dedup_first_wins"],
    "frontier.allowed_by_robots": ["frontier.allowed_by_robots"],
    "frontier.pop_round": ["frontier.pop_round"],
    "fetch.fetch_extract_pages": ["fetch.fetch_extract_pages"],
    "extract.documents_from_fetch_extract": ["extract.documents_from_fetch_extract"],
}
# layers whose own jobs never shuffle: no shuffle counters for them
_NO_SHUFFLE = ("catalog.read", "extract.documents_from_fetch_extract")
SPARK_COUNTERS = ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "executor_run_s")


def layer_metrics(tracer: Tracer, n_ops: int, cores: int) -> dict[str, float]:
    """Per-layer metrics over the traced spans. Times and counts are per
    workload operation (one crawl, or one poll + round cycle), so the
    self times of all layers add up to the traced operation's wall time."""
    own = tracer.self_seconds()
    per = float(max(n_ops, 1))

    def spans(layer):
        return [sp for sp in tracer.spans if sp["name"] in LAYERS[layer]]

    def total(layer, key):
        return sum(sp.get(key, 0) for sp in spans(layer))

    def spark(layer, key):
        return sum(sp["spark"][key] for sp in spans(layer))

    m: dict[str, float] = {}
    for layer in LAYERS:
        m[f"{layer}.s"] = sum(own[sp["id"]] for sp in spans(layer)) / per
    m["engine.step.self_s"] = m.pop("engine.step.s")
    m["engine.admit.self_s"] = m.pop("engine.admit.s")

    m["catalog.write.count"] = len(spans("catalog.write")) / per
    m["catalog.bytes_written"] = total("catalog.write", "bytes") / per
    m["urls.with_url_columns.rows"] = total("urls.with_url_columns", "rows") / per

    m["seen_set.shuffle_bytes"] = spark("seen_set", "shuffle_write_bytes") / per
    # admitted ÷ candidates: rows out of the last seen-set stage of each
    # admission over the rows canonicalized for it
    admitted = candidates = 0
    for op in {sp["op"] for sp in spans("urls.with_url_columns")}:
        cand = [sp for sp in spans("urls.with_url_columns") if sp["op"] == op]
        seen = [sp for sp in spans("seen_set") if sp["op"] == op]
        if cand and seen:
            candidates += sum(sp["rows"] for sp in cand)
            admitted += max(seen, key=lambda sp: sp["start"])["rows"]
    m["seen_set.admit_ratio"] = admitted / candidates if candidates else 0.0

    m["frontier.pop_round.rows_in"] = total("frontier.pop_round", "rows_in") / per
    m["frontier.pop_round.rows_out"] = total("frontier.pop_round", "rows") / per
    m["frontier.shuffle_bytes"] = spark("frontier.pop_round", "shuffle_write_bytes") / per

    fetch = spans("fetch.fetch_extract_pages")
    fetch_s = sum(sp["end"] - sp["start"] for sp in fetch)
    fetch_rows = total("fetch.fetch_extract_pages", "rows")
    m["fetch.rows_per_s"] = fetch_rows / fetch_s if fetch_s else 0.0
    m["fetch.ok_ratio"] = total("fetch.fetch_extract_pages", "ok_rows") / fetch_rows if fetch_rows else 0.0
    # the python pass is the fetch span's stage with the most executor time
    skews = [
        max(sp["task_s"]) / statistics.median(sp["task_s"])
        for sp in fetch
        if len(sp.get("task_s", ())) > 1 and statistics.median(sp["task_s"]) > 0
    ]
    m["fetch.task_skew"] = statistics.median(skews) if skews else 1.0
    run_s = spark("fetch.fetch_extract_pages", "executor_run_s")
    m["fetch.core_util"] = run_s / (fetch_s * cores) if fetch_s else 0.0

    for layer in LAYERS:
        if layer in ("engine.admit", "seen_set.dedup_first_wins"):
            continue  # an admission's jobs all run in its child spans
        for key in SPARK_COUNTERS:
            if "shuffle" not in key or layer not in _NO_SHUFFLE:
                m[f"spark.{layer}.{key}"] = spark(layer, key) / per
    return m


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")) and not name.endswith("rows_per_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "B"
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith(("ratio", "skew", "core_util")):
        return "ratio"
    return "count"
