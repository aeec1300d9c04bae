"""Measurements taken from outside the library: process-tree memory from
/proc, and per-call Spark metrics from Spark's own event log."""

from __future__ import annotations

import json
import os
import statistics
import threading

ROLES = ["build", "delete", "load", "count", "probe", "approx_count"]
SPARK_FIELDS = [
    "stages", "tasks", "shuffle_write_bytes_per_key", "task_skew", "slot_busy_ratio",
    "python_bytes_sent_per_key", "python_bytes_returned_per_key",
]
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _tree_rss_kb(root: int) -> dict:
    """RSS of `root` and all its descendants, split into the driver (root),
    the JVM, and everything else (the Python daemon and workers)."""
    children, rss, comm = {}, {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:  # the process ended while listing
            continue
        fields, pid = tail.split(), int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * PAGE_KB
        comm[pid] = head.split("(", 1)[1]
    out = {"driver": rss.get(root, 0), "jvm": 0, "workers": 0}
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out["jvm" if comm[pid] == "java" else "workers"] += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Samples the process tree's RSS every `interval` seconds and keeps the
    peak of the sum, plus each part's own peak."""

    def __init__(self, interval: float = 0.25):
        self.interval, self.peak_kb, self.part_peaks_kb = interval, 0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = _tree_rss_kb(me)
            self.peak_kb = max(self.peak_kb, sum(parts.values()))
            for k, v in parts.items():
                self.part_peaks_kb[k] = max(self.part_peaks_kb.get(k, 0), v)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def read_event_log(path: str) -> dict:
    """Jobs (submit/complete ms, stage ids) and per-stage task metrics from an
    uncompressed, non-rolling Spark event log."""
    jobs, stages = {}, {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"start": e["Submission Time"], "stages": e["Stage IDs"]}
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], {"tasks": [], "acc": {}})
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st["tasks"].append({
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                })
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {"tasks": [], "acc": {}})
                st["acc"] = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
    return {"jobs": jobs, "stages": stages}


def _union_ms(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _acc_int(acc: dict, name: str) -> int:
    v = acc.get(name)
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def call_metrics(call: dict, log: dict, cores: int) -> dict:
    """Spark work attributed to one call: every job submitted inside its wall
    window (calls run one at a time on one driver thread)."""
    t0, t1 = call["start"] * 1000.0, call["end"] * 1000.0
    jobs = [j for j in log["jobs"].values() if t0 <= j["start"] <= t1 and "end" in j]
    stage_ids = sorted({s for j in jobs for s in j["stages"] if s in log["stages"]})
    stages = [log["stages"][s] for s in stage_ids if log["stages"][s]["tasks"]]
    tasks = [t for st in stages for t in st["tasks"]]
    wall_ms = t1 - t0
    task_ms = sum(t["ms"] for t in tasks)
    widest = max(stages, key=lambda st: len(st["tasks"]), default=None)
    skew = 0.0
    if widest is not None:
        med = statistics.median(t["ms"] for t in widest["tasks"])
        skew = max(t["ms"] for t in widest["tasks"]) / med if med > 0 else 1.0
    keys = max(call["keys"], 1)
    return {
        "stages": len(stages),
        "tasks": len(tasks),
        "shuffle_write_bytes_per_key": sum(t["shuffle_write"] for t in tasks) / keys,
        "spill_bytes": sum(t["spill"] for t in tasks),
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "task_skew": skew,
        "slot_busy_ratio": task_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
        "python_bytes_sent_per_key": sum(
            _acc_int(st["acc"], "data sent to Python workers") for st in stages
        ) / keys,
        "python_bytes_returned_per_key": sum(
            _acc_int(st["acc"], "data returned from Python workers") for st in stages
        ) / keys,
        "driver_gap_s": max(wall_ms - _union_ms((j["start"], j["end"]) for j in jobs), 0.0) / 1000.0,
    }


def spark_layer_metrics(calls: list, log: dict, cores: int, count_role: str, loop: tuple) -> tuple:
    """Per role, the median over that role's calls of each per-call Spark
    metric and of the driver gap. GC time and spill are summed over the
    calls of the timed loop, `loop` = (epoch start, iterations), and given
    per iteration. Also returns the per-call detail for the side file. The
    `count` role reads `count_role`'s calls."""
    detail = [dict(c, spark=call_metrics(c, log, cores)) for c in calls]
    out = {}
    for role in ROLES:
        src = count_role if role == "count" else role
        mine = [d["spark"] for d in detail if d["role"] == src]
        for field in SPARK_FIELDS:
            out[f"spark.{role}.{field}"] = statistics.median(m[field] for m in mine) if mine else 0.0
        out[f"driver.{role}.gap_s"] = statistics.median(m["driver_gap_s"] for m in mine) if mine else 0.0
    since, iterations = loop
    in_loop = [d["spark"] for d in detail if d["start"] >= since]
    for field in ("gc_s", "spill_bytes"):
        out[f"spark.{field}"] = sum(m[field] for m in in_loop) / max(iterations, 1)
    return out, detail
