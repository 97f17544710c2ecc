"""Spans recorded around calls into the engine, and Spark job accounting.

A span is opened by the benchmark around one call into a public function
of an engine module. In a traced run every span also sets its own Spark
job group, so each job the call submits can be charged to it afterwards
from Spark's event log. Spans are kept in memory and written out when the
run ends. In an untraced run :meth:`Tracer.span` records nothing and sets
no job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder; ``sc`` is the SparkContext in a traced run, else None."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.round: int | None = None

    @property
    def on(self) -> bool:
        return self.sc is not None

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{rec['id']}", rec["name"])

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block; yields a dict the caller may
        add counters to (an empty throwaway dict when tracing is off)."""
        if not self.on:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "round": self.round,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


def steal_seconds() -> float:
    """Host steal time so far, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the Spark event log under ``log_dir``: id, group, submit
    and end (epoch s), executor run time (ms) and shuffle bytes written."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {paths}")
    jobs: dict[int, dict] = {}
    owner: dict[int, int] = {}  # stage -> newest job listing it
    stage_job: dict[tuple, int] = {}  # (stage, attempt) -> job that ran it
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "job": jid,
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "executor_ms": 0,
                    "shuffle_bytes": 0,
                }
                for sid in ev["Stage IDs"]:
                    owner[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_job[key] = owner[info["Stage ID"]]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                jid = stage_job.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if m is None or jid is None:
                    continue
                job = jobs[jid]
                job["executor_ms"] += m.get("Executor Run Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                job["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j["job"])


def attach_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Charge each job to a span: by job group where the span set one,
    else (jobs submitted from threads the engine starts, which do not
    inherit the group) to the innermost span open at submission."""
    by_group = {f"pb-{s['id']}": s for s in spans}
    for s in spans:
        s["jobs"] = []
    for j in jobs:
        s = by_group.get(j["group"])
        if s is None:
            inside = [
                s for s in spans
                if s["start"] <= j["submit"] <= s["end"]
            ]
            if not inside:
                continue
            s = max(inside, key=lambda s: s["start"])
        s["jobs"].append(j)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_tree(spans: list[dict]) -> dict[int, dict]:
    """Per span: wall, self (wall minus children), jobs (own and below),
    executor ms, shuffle bytes and driver ms (wall minus the time the
    span's jobs cover)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[int, dict] = {}

    def visit(s: dict) -> list[dict]:
        jobs = list(s["jobs"])
        for k in kids.get(s["id"], []):
            jobs += visit(k)
        wall = s["end"] - s["start"]
        child = sum(k["end"] - k["start"] for k in kids.get(s["id"], []))
        ivs = [(j["submit"], j["end"] or s["end"]) for j in jobs]
        out[s["id"]] = {
            "wall_ms": wall * 1000,
            "self_ms": (wall - child) * 1000,
            "jobs": len(jobs),
            "executor_ms": sum(j["executor_ms"] for j in jobs),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
            "driver_ms": (wall - _covered(ivs, s["start"], s["end"])) * 1000,
        }
        return jobs

    for s in spans:
        if s["parent"] is None:
            visit(s)
    return out
