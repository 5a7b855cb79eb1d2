"""Spans recorded around calls into the package, and Spark's own event
log attributed to them.

A span is (id, name, start, end, parent), kept in memory and written
out when the run ends. Stage and task metrics come from the Spark
event log (uncompressed JSON lines); each job is attributed to the
span whose id is its job group, else to the innermost span whose
interval holds the job's submission time (pool threads inside the
package and the streaming callback thread do not carry the group).
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    """Span recorder. ``enabled=False`` records nothing and costs one
    attribute test per span."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, parent: dict | None = None,
             group: bool = False) -> dict | None:
        if not self.enabled:
            return None
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        with self._lock:
            self.spans.append(rec)
        stack.append(rec)
        if group and self.spark is not None:
            sc = self.spark.sparkContext
            rec["_prev_group"] = sc.getLocalProperty(_JOB_GROUP)
            sc.setLocalProperty(_JOB_GROUP, f"span-{rec['id']}")
        return rec

    def close(self, rec: dict | None) -> None:
        if rec is None:
            return
        rec["end"] = time.time()
        self._stack().remove(rec)
        if "_prev_group" in rec:
            self.spark.sparkContext.setLocalProperty(
                _JOB_GROUP, rec.pop("_prev_group")
            )

    @contextmanager
    def span(self, name: str, parent: dict | None = None,
             group: bool = False):
        rec = self.open(name, parent, group)
        try:
            yield rec
        finally:
            self.close(rec)

    def wrap(self, fn, name: str, parent_of=None):
        """``fn`` timed as span ``name``; ``parent_of()`` names the
        parent for calls made on threads with no open span."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            parent = None
            if not self._stack() and parent_of is not None:
                parent = parent_of()
            with self.span(name, parent):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def export(self) -> list[dict]:
        return [
            {k: v for k, v in s.items() if not k.startswith("_")}
            for s in self.spans
        ]


def durations(spans: list[dict]) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_time(span: dict, spans: list[dict]) -> float:
    """The span's duration minus the part its children cover."""
    kids = [
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in spans
        if c["parent"] == span["id"] and c["end"]
    ]
    return (span["end"] - span["start"]) - covered(
        [k for k in kids if k[1] > k[0]]
    )


# ------------------------------------------------------------------
# Spark event log


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task totals from every event-log file under
    ``log_dir`` (Spark 4 writes ``eventlog_v2_*/events_*``)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # not an event: a checksum or a torn line
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": props.get(_JOB_GROUP),
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["start"] = (info.get("Submission Time") or 0) / 1000.0
                    st["end"] = (info.get("Completion Time") or 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_read_bytes"] += rd.get(
                        "Remote Bytes Read", 0
                    ) + rd.get("Local Bytes Read", 0)
                    st["shuffle_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    st["mem_spill_bytes"] += m.get("Memory Bytes Spilled", 0)
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {
        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0,
        "mem_spill_bytes": 0, "start": 0.0, "end": 0.0,
    }


_SUMS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
         "shuffle_bytes", "spill_bytes", "mem_spill_bytes")


def attribute(spans: list[dict], log: dict) -> dict[int, dict]:
    """Per span id: INCLUSIVE totals of the jobs and stages it caused
    (its own and its descendants'), plus ``stage_busy_s``, the part of
    the span's interval during which one of those stages ran."""
    by_id = {s["id"]: s for s in spans if s["end"]}
    by_group = {f"span-{sid}": sid for sid in by_id}
    # innermost first: shortest spans win the time-window match
    window_order = sorted(by_id.values(), key=lambda s: s["end"] - s["start"])
    owner: dict[int, int] = {}
    for jid, job in log["jobs"].items():
        sid = by_group.get(job["group"])
        if sid is None:
            t = job["submit"]
            # ms-resolution job clock: allow one tick of slack
            sid = next(
                (s["id"] for s in window_order
                 if s["start"] - 0.001 <= t <= s["end"] + 0.001),
                None,
            )
        if sid is not None:
            owner[jid] = sid
    totals = {
        sid: {"jobs": 0, "stages": 0, "intervals": [],
              **{k: 0 for k in _SUMS}}
        for sid in by_id
    }

    def chain(sid):
        while sid is not None and sid in by_id:
            yield sid
            sid = by_id[sid]["parent"]

    for jid, sid in owner.items():
        for anc in chain(sid):
            totals[anc]["jobs"] += 1
    for st in log["stages"].values():
        sid = owner.get(st["job"])
        if sid is None or st["tasks"] == 0:
            continue
        for anc in chain(sid):
            tot = totals[anc]
            tot["stages"] += 1
            for k in _SUMS:
                tot[k] += st[k]
            if st["end"] > st["start"] > 0:
                tot["intervals"].append((st["start"], st["end"]))
    for sid, tot in totals.items():
        span = by_id[sid]
        ivs = [
            (max(s, span["start"]), min(e, span["end"]))
            for s, e in tot.pop("intervals")
        ]
        tot["stage_busy_s"] = covered([iv for iv in ivs if iv[1] > iv[0]])
    return totals


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
