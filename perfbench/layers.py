"""The per-layer table of a traced run.

``Probe`` instruments each engine the workload builds: spans around
bootstrap, run, run_round and every catalog mutation, plus counts taken
before each round straight from the warehouse files (how many
candidates are revisits, and what the bloom prefilter says about them)
and the bytes each round adds per table. ``layer_metrics`` joins those
with the event-log fold (spans.fold_event_log).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

import numpy as np

from check import read_table
from crawler_spark.operators.seen import bloom_maybe_contains
from spans import UDF_NODES, busy_ms
from workloads import dir_bytes

TABLES = ("pages", "seen", "bridge", "lineage", "frontier", "seen_bloom")
# the catalog mutations one run_round makes
ROUND_OPS = (
    "append:bridge", "append:pages", "merge_insert:seen", "append:seen",
    "overwrite_arrow:seen_bloom", "append_arrow:lineage",
    "stage_overwrite:frontier", "commit_staged_overwrite:frontier",
)
RUN_PY = "time to run Python workers"
START_PY = "time to start Python workers"
INIT_PY = "time to initialize Python workers"
SENT_PY = "data sent to Python workers"
BACK_PY = "data returned from Python workers"
ROWS = "number of output rows"
SORT = "sort time"
UDF_KINDS = (*(kind for _, kind in UDF_NODES), "udf")  # "udf": every other UDF node


def metric_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units = {
        "frontier.bootstrap_s": "s", "frontier.round_s": "s", "frontier.driver_gap_s": "s",
        "frontier.jobs_per_round": "count", "frontier.core_busy_frac": "ratio",
        "frontier.self_task_ms": "ms",
        "seen.rows": "count", "seen.revisit_frac": "ratio", "seen.prefilter_pass_frac": "ratio",
        "seen.prefilter_fpr": "ratio", "seen.key_scan_rows": "count",
        "seen.probe_python_ms": "ms", "seen.fold_s": "s",
        "politeness.admitted_frac": "ratio", "politeness.leftover_rows": "count",
        "politeness.sort_ms": "ms",
        "routing.retry_frac": "ratio", "routing.drop_frac": "ratio",
        "ids.sort_ms": "ms",
        "payload.python_ms": "ms", "payload.bytes_in": "B", "payload.bytes_out": "B",
        "payload.rows": "count", "payload.decode_fail": "count",
        "keywords.python_ms": "ms", "keywords.rows": "count", "keywords.matches": "count",
        "udf.worker_start_ms": "ms", "udf.worker_init_ms": "ms",
        "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B", "spark.gc_ms": "ms",
        "trace.untagged_jobs": "count", "trace.overhead_frac": "ratio",
    }
    for op in ROUND_OPS:
        for stat, unit in (("wall_s", "s"), ("task_ms", "ms"), ("cpu_ms", "ms")):
            units[f"storage.{op.replace(':', '.')}.{stat}"] = unit
    for t in TABLES:
        units[f"storage.bytes_written.{t}"] = "B"
        units[f"storage.file_sets.{t}"] = "count"
    return units


def seen_probe(warehouse: str, r: int) -> dict[str, int]:
    """Round ``r``'s candidates: how many are already seen, how many the
    bloom prefilter passes to the exact join, and how many of those
    were not seen (false positives)."""
    fr = read_table(warehouse, "frontier", ["url", "fp", "host_hash", "retry_round"])
    cand = fr[fr["retry_round"] <= r]
    is_seen = cand["url"].isin(set(read_table(warehouse, "seen", ["url"])["url"])).to_numpy()
    bloom = read_table(warehouse, "seen_bloom", ["host_hash", "bitmap"])
    blobs = dict(zip(bloom["host_hash"], bloom["bitmap"]))
    maybe = np.zeros(len(cand), dtype=bool)
    fps = cand["fp"].to_numpy()
    for hh, idx in cand.groupby("host_hash").indices.items():
        if hh in blobs:
            maybe[idx] = bloom_maybe_contains(fps[idx], bytes(blobs[hh]))
    return {
        "candidates": len(cand), "revisits": int(is_seen.sum()),
        "maybe": int(maybe.sum()), "false_pos": int((maybe & ~is_seen).sum()),
    }


def table_bytes(warehouse: str) -> dict[str, int]:
    return {t: dir_bytes(os.path.join(warehouse, t)) for t in TABLES}


class Probe:
    def __init__(self, tracer):
        self.tracer = tracer
        self.first_span = 0
        self.file_sets: dict[str, int] = {}

    def instrument(self, eng, catalog) -> None:
        tr = self.tracer
        tr.instrument_catalog(catalog)
        eng.bootstrap = tr.wrap(eng.bootstrap, lambda a: "bootstrap")
        eng.run = tr.wrap(eng.run, lambda a: "run")
        timed = eng.run_round

        def traced_round():
            r = eng.current_round()
            pre = seen_probe(catalog.root, r)
            before = table_bytes(catalog.root)
            with tr.span("run_round", round=r) as rec:
                m = timed()
            after = table_bytes(catalog.root)
            rec |= {"metrics": m, "pre": pre, "bytes": {t: after[t] - before[t] for t in TABLES}}
            return m

        eng.run_round = traced_round

    def start(self) -> None:
        """Spans opened from here on are measured; set-up is not."""
        self.first_span = len(self.tracer.spans)

    def end_unit(self, unit) -> None:
        for t in TABLES:
            with open(os.path.join(unit.warehouse, t, "_manifest.json")) as f:
                self.file_sets[t] = len(json.load(f)["paths"])


def layer_metrics(tracer, probe: Probe, groups, jobs, units, cores: int, base_s_per_url: float):
    spans = tracer.spans[probe.first_span:]
    by_group = defaultdict(list)
    for j in jobs.values():
        by_group[j["group"]].append(j)

    def tot(tree, key):
        return sum(groups[s["id"]][key] for s in tree if s["id"] in groups)

    rounds, trees = [], []
    for s in spans:
        if s["name"] == "run_round":
            rounds.append(s)
            trees.append(tracer.subtree(s))
    n = len(rounds)
    per = defaultdict(list)
    ops = defaultdict(lambda: defaultdict(list))
    for s, tree in zip(rounds, trees):
        wall = s["t1"] - s["t0"]
        rj = [j for x in tree for j in by_group[x["id"]]]
        busy = busy_ms([(j["t0"], j["t1"]) for j in rj], s["t0"] * 1e3, s["t1"] * 1e3) / 1e3
        per["round_s"].append(wall)
        per["gap_s"].append(wall - busy)
        per["jobs"].append(len(rj))
        per["self_ms"].append(tot([s], "task_ms"))
        per["key_scan"].append(tot(tree, ("key_scan", ROWS)))
        per["leftover"].append(
            s["pre"]["candidates"] - s["pre"]["revisits"] - s["metrics"]["scheduled"]
        )
        sums = defaultdict(lambda: [0.0, 0.0, 0.0])
        for x in tree:
            if x["name"] in ROUND_OPS:
                xt = tracer.subtree(x)
                acc = sums[x["name"]]
                acc[0] += x["t1"] - x["t0"]
                acc[1] += tot(xt, "task_ms")
                acc[2] += tot(xt, "cpu_ms")
        for op in ROUND_OPS:
            for i, stat in enumerate(("wall_s", "task_ms", "cpu_ms")):
                ops[op][stat].append(sums[op][i])
    every = [x for tree in trees for x in tree]
    pre = {
        k: sum(s["pre"][k] for s in rounds)
        for k in ("candidates", "revisits", "maybe", "false_pos")
    }
    unseen = pre["candidates"] - pre["revisits"]
    rm = {k: sum(s["metrics"][k] for s in rounds) for k in ("scheduled", "retried", "dropped")}
    task_ms = tot(every, "task_ms")
    round_ms = sum(per["round_s"]) * 1e3
    last = units[-1].tables
    med = statistics.median

    out = {
        "frontier.bootstrap_s": med(s["t1"] - s["t0"] for s in spans if s["name"] == "bootstrap"),
        "frontier.round_s": med(per["round_s"]),
        "frontier.driver_gap_s": med(per["gap_s"]),
        "frontier.jobs_per_round": med(per["jobs"]),
        "frontier.core_busy_frac": task_ms / (round_ms * cores),
        "frontier.self_task_ms": med(per["self_ms"]),
        "seen.rows": len(last["seen"]),
        "seen.revisit_frac": pre["revisits"] / max(pre["candidates"], 1),
        "seen.prefilter_pass_frac": pre["maybe"] / max(pre["candidates"], 1),
        "seen.prefilter_fpr": pre["false_pos"] / max(unseen, 1),
        "seen.key_scan_rows": med(per["key_scan"]),
        "seen.probe_python_ms": tot(every, ("probe", RUN_PY)) / n,
        "seen.fold_s": sum(x["t1"] - x["t0"] for x in every if x["name"] == "bloom_build") / n,
        "politeness.admitted_frac": rm["scheduled"] / max(unseen, 1),
        "politeness.leftover_rows": med(per["leftover"]),
        "politeness.sort_ms": tot(every, ("politeness_sort", SORT)) / n,
        "routing.retry_frac": rm["retried"] / max(rm["scheduled"], 1),
        "routing.drop_frac": rm["dropped"] / max(rm["scheduled"], 1),
        "ids.sort_ms": tot(every, ("ids_sort", SORT)) / n,
        "payload.python_ms": tot(every, ("payload", RUN_PY)) / n,
        "payload.bytes_in": tot(every, ("payload", SENT_PY)) / n,
        "payload.bytes_out": tot(every, ("payload", BACK_PY)) / n,
        "payload.rows": tot(every, ("payload", ROWS)) / n,
        "payload.decode_fail": int(last["pages"]["phash"].isna().sum()),
        "keywords.python_ms": tot(every, ("keywords", RUN_PY)) / n,
        "keywords.rows": tot(every, ("keywords", ROWS)) / n,
        "keywords.matches": sum(u.new_bridge_rows for u in units) / n,
        "udf.worker_start_ms": sum(tot(every, (k, START_PY)) for k in UDF_KINDS) / n,
        "udf.worker_init_ms": sum(tot(every, (k, INIT_PY)) for k in UDF_KINDS) / n,
        "spark.shuffle_write_bytes": tot(every, "shuffle_write_bytes") / n,
        "spark.spill_bytes": tot(every, "spill_bytes") / n,
        "spark.gc_ms": tot(every, "gc_ms") / n,
        "trace.untagged_jobs": sum(1 for j in jobs.values() if j["group"] is None),
        "trace.overhead_frac": (
            sum(u.crawl_s for u in units) / sum(u.scheduled for u in units) / base_s_per_url - 1
        ),
    }
    for op in ROUND_OPS:
        for stat, values in ops[op].items():
            out[f"storage.{op.replace(':', '.')}.{stat}"] = med(values)
    for t in TABLES:
        out[f"storage.bytes_written.{t}"] = sum(s["bytes"][t] for s in rounds) / n
        out[f"storage.file_sets.{t}"] = probe.file_sets[t]
    return out
