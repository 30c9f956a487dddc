"""Spans around the engine's public calls, and the Spark event-log fold.

Each span gives the Spark job group of its thread a fresh id and puts
the caller's group back on exit, so a job belongs to the innermost span
that was open on its thread. The commit threads of ``run_round`` start
from the round's group (``inheritable_thread_target``), so nothing the
round submits goes untagged. After the run, the event log is folded per
job group: task run time, CPU time, GC, shuffle and spill, plus the SQL
metrics of the plan nodes the per-layer table needs.
"""

from __future__ import annotations

import concurrent.futures
import functools
import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.util import inheritable_thread_target

GROUP = "spark.jobGroup.id"

# every SnapshotCatalog method that changes a table
MUTATIONS = (
    "append", "append_arrow", "merge_insert", "overwrite", "overwrite_arrow",
    "stage_overwrite", "commit_staged_overwrite", "set_properties", "compact", "drop",
)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        prev = self.sc.getLocalProperty(GROUP)
        with self._lock:
            rec = {"id": f"s{len(self.spans)}:{name}", "name": name, "parent": prev, **attrs}
            self.spans.append(rec)
        self.sc.setLocalProperty(GROUP, rec["id"])
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.sc.setLocalProperty(GROUP, prev)

    def wrap(self, fn, name_of):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name_of(args)):
                return fn(*args, **kwargs)

        return traced

    def instrument_catalog(self, catalog) -> None:
        for op in MUTATIONS:
            setattr(
                catalog, op, self.wrap(getattr(catalog, op), lambda a, op=op: f"{op}:{a[0]}")
            )

    @contextmanager
    def installed(self):
        """Patch ``seen.bloom_build`` and make pool threads inherit the
        submitting thread's job group, for the duration of the block."""
        from crawler_spark.operators import seen

        orig_build = seen.bloom_build
        orig_pool = concurrent.futures.ThreadPoolExecutor

        class InheritingPool(orig_pool):
            def submit(self, fn, /, *args, **kwargs):
                return super().submit(inheritable_thread_target(fn), *args, **kwargs)

        seen.bloom_build = self.wrap(orig_build, lambda a: "bloom_build")
        concurrent.futures.ThreadPoolExecutor = InheritingPool
        try:
            yield
        finally:
            seen.bloom_build = orig_build
            concurrent.futures.ThreadPoolExecutor = orig_pool

    def subtree(self, root: dict) -> list[dict]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out


# the engine's pandas UDFs by name: payload.make_fetch_parse_udf,
# keywords.make_keyword_matcher, seen.prefilter_unseen_broadcast
UDF_NODES = (("fetch_parse(", "payload"), ("matcher(", "keywords"), ("probe(", "probe"))


def _node_kind(node: str, desc: str, location: str) -> str | None:
    if node == "ArrowEvalPython":
        for udf, kind in UDF_NODES:
            if udf in desc:
                return kind
        return "udf"
    if node == "Sort":
        if desc.startswith("Sort [host#"):
            return "politeness_sort"
        if desc.startswith("Sort [portal#"):
            return "ids_sort"
    if node.startswith("Scan parquet") and re.search(r"/(seen|pages)/v\d{6}", location):
        return "key_scan"
    return None


def fold_event_log(path: str) -> tuple[dict, dict]:
    """Per job group: task totals and (node kind, SQL metric) sums.
    Also returns every job as {id: {group, t0, t1}} in epoch ms.

    A cached relation's plan nodes are announced by the adaptive plan
    update that follows the tasks which built the cache, so task updates
    are summed per accumulator first and named at the end."""
    accs: dict[int, tuple[str, str]] = {}
    updates: dict = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str | None] = {}
    jobs: dict[int, dict] = {}
    groups: dict = defaultdict(lambda: defaultdict(float))

    def walk(plan):
        kind = _node_kind(
            plan["nodeName"], plan["simpleString"], plan.get("metadata", {}).get("Location", "")
        )
        if kind:
            for m in plan.get("metrics", []):
                accs[m["accumulatorId"]] = (kind, m["name"])
        for child in plan.get("children", []):
            walk(child)

    with open(path) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerTaskStart"'):
                continue
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                walk(e["sparkPlanInfo"])
            elif ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get(GROUP)
                jobs[e["Job ID"]] = {"group": group, "t0": e["Submission Time"], "t1": None}
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif ev == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                stage_group[e["Stage Info"]["Stage ID"]] = props.get(GROUP)
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["t1"] = e["Completion Time"]
            elif ev == "SparkListenerTaskEnd":
                g = groups[stage_group.get(e["Stage ID"])]
                tm = e.get("Task Metrics") or {}
                g["task_ms"] += tm.get("Executor Run Time", 0)
                g["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                g["gc_ms"] += tm.get("JVM GC Time", 0)
                g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                u = updates[stage_group.get(e["Stage ID"])]
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Metadata") == "sql":
                        u[a["ID"]] += float(a["Update"])
    for group, per_acc in updates.items():
        for acc_id, value in per_acc.items():
            key = accs.get(acc_id)
            if key is not None:
                groups[group][key] += value
    return groups, jobs


def busy_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
