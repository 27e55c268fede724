"""Spans around public calls, and the event-log parser that turns a
traced run into per-layer numbers.

A span records name, module, start, end, parent and run id. Spans are
kept in memory and written out when the run ends. With a SparkContext
attached (traced runs only) each span also tags the Spark jobs it
starts with ``setJobGroup``, which is how the event log's jobs, stages
and task metrics are attributed back to the call that caused them.
Untraced runs record the same spans but never touch job groups, so the
program runs exactly as without the benchmark.
"""

import json
import time
import uuid
from contextlib import contextmanager

_GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans = []
        self._stack = []

    def _set_group(self, sid):
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name, **attrs):
        """Time one call. ``name`` is ``<module>.<function>`` for calls
        into the program; the module is the part before the first dot."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "module": name.split(".", 1)[0],
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def dump(self, path):
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union_len(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Each span's duration minus the part its child spans cover."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_len(kids.get(s["id"], []))
        for s in spans
    }


# per-layer metric -> (stage accumulables summed, scale)
_ACC = {
    "task_s": (("internal.metrics.executorRunTime",), 1e-3),
    "shuffle_mb": (("internal.metrics.shuffle.write.bytesWritten",), 1e-6),
    "spill_mb": (("internal.metrics.diskBytesSpilled",), 1e-6),
    "python_mb": (("data sent to Python workers", "data returned from Python workers"), 1e-6),
}


def _num(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(path):
    """Jobs (group, submit, end, stages) and completed stages
    (accumulated task metrics) from an uncompressed event log."""
    jobs, stages = {}, {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {}
                for a in info.get("Accumulables", []):
                    acc[a.get("Name")] = acc.get(a.get("Name"), 0.0) + _num(a.get("Value"))
                stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = acc
    return jobs, stages


def layer_metrics(spans, jobs, stages):
    """Per-module driver/task/shuffle/spill/stage/python numbers for the
    call spans (spans whose name has a module part)."""
    by_group = {}
    for j in jobs.values():
        if j["group"] and j["group"].startswith(_GROUP_PREFIX) and j["end"] is not None:
            by_group.setdefault(int(j["group"][len(_GROUP_PREFIX):]), []).append(j)
    stage_acc = {}
    for (sid, _attempt), acc in stages.items():
        stage_acc.setdefault(sid, []).append(acc)
    out = {}
    for s in spans:
        if "." not in s["name"]:
            continue
        m = out.setdefault(
            s["module"],
            {"driver_s": 0.0, "task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "stages": 0, "python_mb": 0.0},
        )
        mine = by_group.get(s["id"], [])
        covered = _union_len(
            [(max(j["submit"], s["start"]), min(j["end"], s["end"])) for j in mine if j["end"] > s["start"] and j["submit"] < s["end"]]
        )
        m["driver_s"] += (s["end"] - s["start"]) - covered
        seen = set()
        for j in mine:
            for sid in j["stages"]:
                if sid in seen or sid not in stage_acc:
                    continue  # skipped stages never complete
                seen.add(sid)
                for acc in stage_acc[sid]:
                    m["stages"] += 1
                    for key, (names, scale) in _ACC.items():
                        m[key] += scale * sum(acc.get(n, 0.0) for n in names)
    return out
