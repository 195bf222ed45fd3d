"""Per-layer figures from Spark's event log.

Every job the engine runs carries the ``fsw.stage`` local property (the
pipeline and the delta fold set it per stage); the benchmark sets it itself
before each public call, so jobs never inherit a stale stage tag. A job
belongs to the op whose wall-clock window holds its submission time: the
loop is closed, one op in flight, so the windows are disjoint.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

# fsw.stage tag -> layer, named for the module the stage drives. s2 is the
# projection of signatures the ingest scan computed, so it counts as ingest.
LAYER_OF_TAG = {
    "s0_ingest": "ingest",
    "s2_signatures": "ingest",
    "s1_exact": "exact_dedup",
    "s3_candidates": "lsh",
    "s4_verified": "verify",
    "s5_clusters": "components",
    "search.lev": "search.lev",
    "search.subs": "search.subs",
}
LAYERS = sorted(set(LAYER_OF_TAG.values()))
MB = 1024 * 1024


def read_events(event_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # a torn last line if the log was cut
    return events


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


def _new_layer() -> dict:
    return {
        "jobs": [], "run_ms": 0, "gc_ms": 0, "input_b": 0, "output_b": 0,
        "sw_b": 0, "sr_b": 0, "spill_b": 0, "stage_tasks": {},
    }


def digest(events: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """One dict per op window (epoch seconds): per-layer job intervals and
    task accounting, plus op-wide job count, spill and output bytes."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            tag = (ev.get("Properties") or {}).get("fsw.stage")
            jobs[jid] = {"start": ev["Submission Time"] / 1000, "end": None, "tag": tag}
            for sid in ev.get("Stage IDs") or []:
                stage_job.setdefault(sid, jid)  # a reused stage ran in its first job
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    ops = [
        {"window": w, "jobs": 0, "spill_b": 0, "output_b": 0,
         "layers": {name: _new_layer() for name in LAYERS}, "covered": []}
        for w in windows
    ]

    def op_of(t: float):
        for op in ops:
            if op["window"][0] <= t <= op["window"][1]:
                return op
        return None

    for job in jobs.values():
        op = op_of(job["start"])
        if op is None or job["end"] is None:
            continue
        op["jobs"] += 1
        layer = LAYER_OF_TAG.get(job["tag"])
        if layer:
            op["layers"][layer]["jobs"].append((job["start"], job["end"]))

    for ev in tasks:
        job = jobs.get(stage_job.get(ev["Stage ID"], -1))
        if job is None:
            continue
        op = op_of(job["start"])
        if op is None:
            continue
        m = ev.get("Task Metrics") or {}
        spill = m.get("Disk Bytes Spilled", 0)
        out = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        op["spill_b"] += spill
        op["output_b"] += out
        layer = LAYER_OF_TAG.get(job["tag"])
        if not layer:
            continue
        acc = op["layers"][layer]
        run = m.get("Executor Run Time", 0)
        acc["run_ms"] += run
        acc["gc_ms"] += m.get("JVM GC Time", 0)
        acc["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        acc["output_b"] += out
        acc["spill_b"] += spill
        acc["sw_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        acc["sr_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        acc["stage_tasks"].setdefault(ev["Stage ID"], []).append(run)
    return ops


def layer_view(op: dict) -> dict:
    """Seconds, megabytes and skew for each layer of one digested op."""
    out = {}
    for name, acc in op["layers"].items():
        heaviest = max(acc["stage_tasks"].values(), key=sum, default=[])
        mean = statistics.fmean(heaviest) if heaviest else 0.0
        out[name] = {
            "wall_s": _union(acc["jobs"]),
            "jobs": len(acc["jobs"]),
            "task_s": acc["run_ms"] / 1000,
            "gc_s": acc["gc_ms"] / 1000,
            "input_mb": acc["input_b"] / MB,
            "checkpoint_mb": acc["output_b"] / MB,
            "shuffle_write_mb": acc["sw_b"] / MB,
            "shuffle_read_mb": acc["sr_b"] / MB,
            # max / mean task time in the layer's heaviest Spark stage
            "task_skew": max(heaviest) / mean if mean else 0.0,
        }
    covered = [iv for acc in op["layers"].values() for iv in acc["jobs"]]
    lo, hi = op["window"]
    out["op"] = {
        "wall_s": hi - lo,
        "jobs": op["jobs"],
        "unattributed_s": (hi - lo) - _union(covered),
        "spill_mb": op["spill_b"] / MB,
        "checkpoint_write_mb": op["output_b"] / MB,
    }
    return out
