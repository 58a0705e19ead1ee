"""Spans around calls into each layer, Spark job groups per span, and the
event-log parser that turns the groups into per-span Spark counters.

Spans are recorded from this file only: ``Tracer.install`` wraps layer
entry points at run time (module attributes that ``cqs_spark`` looks up
when it calls them) and ``uninstall`` puts the originals back; no
``cqs_spark`` source changes.  In the traced run each wrapped layer's
lazy output is materialised with ``df.write.format("noop")`` inside its
span, so the span's time covers executing that layer (the consumer
re-executes it later; that is part of the tracing overhead).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_s",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()

    # ----------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    @staticmethod
    def materialise(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------------ wrapping
    def _wrap(self, owner, attr: str, name: str, outputs=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs the original in
        a span, materialises the DataFrames ``outputs(result)`` returns
        and calls ``after(span, args, result)``."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                for df in outputs(out) if outputs else ():
                    tracer.materialise(df)
                if after:
                    after(rec, args, out)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        if not self.enabled:
            return
        import cqs_spark.engine as engine
        import cqs_spark.index.incremental as incremental
        import cqs_spark.index.typegraph as typegraph
        import cqs_spark.operators.graph as graph
        import cqs_spark.operators.router as router
        import cqs_spark.operators.scoring as scoring

        one = lambda df: (df,)  # noqa: E731
        self._wrap(engine, "list_files", "index.ingest.list", one)
        self._wrap(engine, "build_chunks", "index.chunker.parse", one, _count_rows)
        self._wrap(engine, "embed_with_cache", "index.reuse.embed", lambda r: r, _cache_hits)
        self._wrap(engine, "build_postings", "index.postings.build", one)
        self._wrap(engine, "call_edges_from_chunks", "engine.call_edges", one)
        self._wrap(typegraph, "type_edges", "index.typegraph.build", one)
        self._wrap(incremental, "plan_incremental", "index.incremental.plan", lambda r: r, _plan_counts)
        self._wrap(engine, "keyword_search", "index.postings.keyword_search", one)
        self._wrap(router, "classify_query", "operators.router.classify")
        self._wrap(scoring, "topk", "operators.scoring.topk", one)
        self._wrap(engine.Engine, "search_by_name", "engine.search_by_name", one)
        for fn in ("impact", "dead_code", "gather_scores"):
            self._wrap(graph, fn, f"operators.graph.{fn}", one)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


def _count_rows(rec, args, df) -> None:
    rec["rows"] = df.count()


def _cache_hits(rec, args, out) -> None:
    chunks, cache = args[0], args[1]
    rec["chunks"] = chunks.count()
    if cache is None:
        rec["hits"] = 0
        return
    keys = cache.select("canonical_hash")
    rec["hits"] = chunks.join(keys.distinct(), "canonical_hash", "left_semi").count()


def _plan_counts(rec, args, out) -> None:
    rec["reparsed"], rec["deleted"] = out[0].count(), out[1].count()


# ------------------------------------------------------------ event log
def _event_files(event_dir: str) -> list[str]:
    """Event-log files in write order: a single file per application, or
    a rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` files."""
    out = []
    for dirpath, _, files in os.walk(event_dir):
        for f in files:
            if f.startswith("events_"):
                out.append((dirpath, int(f.split("_")[1]), f))
            elif not f.startswith(("appstatus", ".")):
                out.append((dirpath, 0, f))
    return [os.path.join(d, f) for d, _, f in sorted(out)]


def spark_counters(event_dir: str, spans: list[dict]) -> dict[str, dict[str, float]]:
    """Inclusive Spark counters per span id, from the event log's job
    groups (each job counts once, towards its own span and every
    ancestor)."""
    group_of_stage: dict[int, str] = {}
    job_group: dict[int, str] = {}
    own: dict[str, dict[str, float]] = {}

    def bucket(group: str | None) -> dict[str, float] | None:
        if group is None:
            return None
        return own.setdefault(group, dict.fromkeys(COUNTERS, 0.0))

    for path in _event_files(event_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = group
                    for sid in ev.get("Stage IDs", ()):
                        group_of_stage[sid] = group
                    b = bucket(group)
                    if b is not None:
                        b["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    b = bucket(group_of_stage.get(ev["Stage Info"]["Stage ID"]))
                    if b is not None:
                        b["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(group_of_stage.get(ev["Stage ID"]))
                    if b is None:
                        continue
                    b["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        b["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    b["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    parent = {s["id"]: s["parent"] for s in spans}
    total: dict[str, dict[str, float]] = {s["id"]: dict.fromkeys(COUNTERS, 0.0) for s in spans}
    for sid, counts in own.items():
        node = sid
        while node is not None and node in total:
            for k, v in counts.items():
                total[node][k] += v
            node = parent.get(node)
    return total
