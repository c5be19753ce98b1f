"""Per-layer measurement from outside the engine.

Two sources:
- ``fold_eventlog`` folds a Spark event log (uncompressed, non-rolling)
  into per-stage and per-job rows, grouped by the job description the
  benchmark sets before each timed job;
- ``replay`` feeds Arrow-sized batches through ``fused._extract_batch`` in
  this process, with timing wrappers patched into the module namespaces
  that make the calls.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from collections import defaultdict


# --------------------------------------------------------------------------
# event log


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _ratio(values: list[float]) -> float:
    """max / median, 1.0 for fewer than two values."""
    if len(values) < 2:
        return 1.0
    med = statistics.median(values)
    return max(values) / med if med > 0 else 1.0


def fold_eventlog(path: str) -> dict:
    """Event log → {"stages": [...], "jobs": {description: {...}}}.

    Stage rows carry tasks, wall, run/CPU/GC time, shuffle read/write,
    spill, result bytes, max/median task time and Python-worker time and
    bytes; ``kind`` marks the fused engine's Python map stage ("map",
    MapInPandas scope) and its O8 window stage ("window")."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    acc_meta: dict[int, tuple] = {}  # accumulator id → (node, metric, type)
    plans: dict[str, dict] = {}  # SQL execution id → last plan info
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description", ""),
                    "exec": props.get("spark.sql.execution.id"),
                }
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                scopes = {
                    json.loads(r["Scope"])["name"]
                    for r in si.get("RDD Info", []) if r.get("Scope")
                }
                stages[si["Stage ID"]] = {
                    "wall_s": (si["Completion Time"] - si["Submission Time"]) / 1e3,
                    "scopes": scopes,
                }
            elif kind == "SparkListenerTaskEnd":
                tasks[e["Stage ID"]].append(e)
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                plans[str(e["executionId"])] = e["sparkPlanInfo"]
                for node in _plan_nodes(e["sparkPlanInfo"]):
                    for m in node.get("metrics", []):
                        acc_meta[m["accumulatorId"]] = (
                            node["nodeName"], m["name"], m["metricType"]
                        )

    def acc_value(acc: dict) -> float:
        v = float(acc.get("Update") or 0)
        mtype = acc_meta.get(acc["ID"], (None, None, ""))[2]
        return v / 1e9 if mtype == "nsTiming" else v / 1e3 if mtype == "timing" else v

    rows = []
    for sid, st in sorted(stages.items()):
        ts = tasks.get(sid, [])
        durations = [
            (t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1e3
            for t in ts
        ]
        m = [t.get("Task Metrics") or {} for t in ts]
        by_node: dict[tuple, float] = defaultdict(float)
        for t in ts:
            for acc in t["Task Info"].get("Accumulables", []):
                node, name, _ = acc_meta.get(acc["ID"], (None, acc.get("Name"), ""))
                by_node[(node, name)] += acc_value(acc)
        records_read = [
            x.get("Shuffle Read Metrics", {}).get("Total Records Read", 0) for x in m
        ]
        job = jobs.get(stage_job.get(sid, -1), {})
        rows.append({
            "desc": job.get("desc", ""),
            "stage": sid,
            "kind": "map" if "MapInPandas" in st["scopes"]
            else "window" if "Window" in st["scopes"] else "other",
            "tasks": len(ts),
            "wall_s": st["wall_s"],
            "task_s": sum(durations),
            "run_s": sum(x.get("Executor Run Time", 0) for x in m) / 1e3,
            "cpu_s": sum(x.get("Executor CPU Time", 0) for x in m) / 1e9,
            "gc_s": sum(x.get("JVM GC Time", 0) for x in m) / 1e3,
            "result_bytes": sum(x.get("Result Size", 0) for x in m),
            "spill_bytes": sum(
                x.get("Memory Bytes Spilled", 0) + x.get("Disk Bytes Spilled", 0) for x in m
            ),
            "shuffle_read_bytes": sum(
                x.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
                + x.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                for x in m
            ),
            "shuffle_write_bytes": sum(
                x.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for x in m
            ),
            "shuffle_write_records": sum(
                x.get("Shuffle Write Metrics", {}).get("Shuffle Records Written", 0) for x in m
            ),
            "max_task_s": max(durations, default=0.0),
            "median_task_s": statistics.median(durations) if durations else 0.0,
            "task_skew": _ratio(durations),
            "max_task_share": max(records_read) / sum(records_read)
            if sum(records_read) else 0.0,
            "python_run_s": by_node[("MapInPandas", "time to run Python workers")],
            "to_python_bytes": by_node[("MapInPandas", "data sent to Python workers")],
            "from_python_bytes": by_node[("MapInPandas", "data returned from Python workers")],
            "filter_rows": by_node[("Filter", "number of output rows")],
        })

    per_desc: dict[str, dict] = {}
    for desc in sorted({j["desc"] for j in jobs.values()}):
        srows = [r for r in rows if r["desc"] == desc]
        execs = {j["exec"] for j in jobs.values() if j["desc"] == desc and j["exec"]}
        per_desc[desc] = {
            "spark_jobs": sum(1 for j in jobs.values() if j["desc"] == desc),
            "stages": len(srows),
            "tasks": sum(r["tasks"] for r in srows),
            "exchanges": sum(
                1 for x in execs for n in _plan_nodes(plans.get(x, {}))
                if n.get("nodeName") in ("Exchange", "BroadcastExchange")
            ),
            "max_stage_skew": max(
                (r["task_skew"] for r in srows if r["tasks"] > 1), default=1.0
            ),
            **{
                k: sum(r[k] for r in srows)
                for k in ("cpu_s", "run_s", "gc_s", "spill_bytes",
                          "shuffle_write_bytes", "result_bytes")
            },
        }
    return {"stages": rows, "jobs": per_desc}


# --------------------------------------------------------------------------
# kernel replay


class Spans:
    """Nested timing spans keyed by layer name: busy (inclusive) time,
    own (self) time, i.e. busy minus the time of child spans, and call
    counts."""

    def __init__(self):
        self.busy: dict[str, float] = defaultdict(float)
        self.own: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.counts: dict[str, float] = defaultdict(float)
        self._child: list[float] = []

    def wrap(self, name: str, fn, on_return=None):
        def wrapped(*args, **kwargs):
            self._child.append(0.0)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                child = self._child.pop()
                self.busy[name] += dur
                self.own[name] += dur - child
                self.calls[name] += 1
                if self._child:
                    self._child[-1] += dur
            if on_return is not None:
                on_return(self, out)
            return out

        return wrapped


WARM_ROWS = 256  # rows per batch in the untimed warm-up pass of ``replay``
_DET_LINE = re.compile(r"(?m)^@det ")


def _det_lines(batches) -> int:
    return sum(
        int(b[col].fillna("").str.count(_DET_LINE).sum())
        for b in batches for col in ("text", "tool")
    )


def _count_kept(spans: Spans, dets) -> None:
    """Parsed detections kept (page markers have branch -1); every kept
    formula-branch detection is one lookup of the per-batch F1 memo."""
    if len(dets):
        spans.counts["dets_kept"] += int((dets["branch"] >= 0).sum())
        spans.counts["f1_lookups"] += int((dets["branch"] == 1).sum())


def _patches(spans: Spans):
    """(module, attribute, wrapper) at each call site: fused imports
    ``_parse_batch``/``run_turn_arrays`` by name, turnkernel imports
    ``ocr_page_arrays`` by name, and the kernels are reached as
    ``kernels.<name>`` attributes."""
    from sparkextract import fused, kernels, turnkernel

    return [
        (fused, "_parse_batch", spans.wrap("parse", fused._parse_batch, _count_kept)),
        (fused, "run_turn_arrays", spans.wrap("turnkernel", fused.run_turn_arrays)),
        (turnkernel, "ocr_page_arrays", spans.wrap("ocr", turnkernel.ocr_page_arrays)),
        (kernels, "latex_rm_whitespace", spans.wrap("f1", kernels.latex_rm_whitespace)),
        (kernels, "merge_para", spans.wrap("merge_para", kernels.merge_para)),
        (kernels, "nms_keep", spans.wrap("nms", kernels.nms_keep)),
    ]


def _run_batches(batches) -> tuple[float, int]:
    from sparkextract import fused

    t0 = time.perf_counter()
    turns = sum(len(fused._extract_batch(b)) for b in batches)
    return time.perf_counter() - t0, turns


def replay(batches) -> dict:
    """Run the batches through ``fused._extract_batch`` without wrappers,
    then with them; return the per-layer replay metrics. A short untimed
    pass first pays the one-time costs (imports, regex compilation)."""
    _run_batches([b.iloc[:WARM_ROWS] for b in batches])
    plain_s, turns = _run_batches(batches)
    spans = Spans()
    patches = _patches(spans)
    originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    try:
        for mod, attr, wrapper in patches:
            setattr(mod, attr, wrapper)
        spans.wrap("fused", _run_batches)(batches)
    finally:
        for mod, attr, fn in originals:
            setattr(mod, attr, fn)
    lookups = spans.counts["f1_lookups"]
    return {
        "fused.batch_s": spans.busy["fused"],
        "fused.self_s": spans.own["fused"],
        "fused.turns_per_s_core": turns / plain_s,
        "parse.busy_s": spans.busy["parse"],
        "parse.dets_kept_ratio": spans.counts["dets_kept"] / max(_det_lines(batches), 1),
        "turnkernel.busy_s": spans.busy["turnkernel"],
        "turnkernel.self_s": spans.own["turnkernel"],
        "turnkernel.turns": spans.calls["turnkernel"],
        "ocr.busy_s": spans.busy["ocr"],
        "ocr.pages": spans.calls["ocr"],
        "kernels.f1_busy_s": spans.busy["f1"],
        "kernels.f1_memo_hit_ratio": 1 - spans.calls["f1"] / lookups if lookups else 0.0,
        "kernels.merge_para_busy_s": spans.busy["merge_para"],
        "kernels.nms_busy_s": spans.busy["nms"],
        "replay.wrapper_overhead_ratio": spans.busy["fused"] / plain_s,
        "replay.turns": turns,
    }
