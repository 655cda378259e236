"""Fold a plain-JSON Spark event log into per-job-group span metrics.

The traced run sets ``spark.eventLog.enabled`` (uncompressed) and runs each
layer call under its own job group. Every stage is attributed to the job
group in its ``StageSubmitted`` properties (falling back to the first
``JobStart`` that lists it), and every ``TaskEnd`` is added to its stage.

Per group the fold returns (task and job counts come from the status
tracker, see ``harness.Tracer``):

* ``shuffle_mb``  shuffle bytes written, MiB;
* ``spill_mb``    bytes spilled to disk, MiB;
* ``py_mb``       bytes sent to plus bytes returned from Python workers, MiB;
* ``py_s``        time to run Python workers, seconds (summed over tasks);
* ``task_skew``   max over median task duration in the group's longest stage
                  (the stage whose tasks span the most wall time); 1.0 when
                  that stage has a single task.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

__all__ = ["fold_event_log", "fold_events", "PY_SENT", "PY_RECV", "PY_TIME"]

MIB = float(1 << 20)
GROUP_KEY = "spark.jobGroup.id"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TIME = "time to run Python workers"


def _zero() -> dict:
    return {"shuffle_mb": 0.0, "spill_mb": 0.0, "py_mb": 0.0,
            "py_s": 0.0, "task_skew": 1.0}


def fold_events(events) -> "dict[str, dict]":
    """Fold an iterable of event dicts; returns ``{group: metrics}``."""
    stage_group: "dict[int, str]" = {}
    tasks_by_stage: "dict[int, list]" = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            sid = ev["Stage Info"]["Stage ID"]
            if group is not None:
                stage_group[sid] = group
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            tasks_by_stage[ev["Stage ID"]].append(ev)

    out: "dict[str, dict]" = {}
    longest: "dict[str, tuple]" = {}
    for sid, tasks in tasks_by_stage.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        agg = out.setdefault(group, _zero())
        durations, first, last = [], None, None
        for ev in tasks:
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            agg["shuffle_mb"] += ((tm.get("Shuffle Write Metrics") or {})
                                  .get("Shuffle Bytes Written", 0)) / MIB
            agg["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MIB
            for acc in info.get("Accumulables") or ():
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name in (PY_SENT, PY_RECV):
                    agg["py_mb"] += float(upd) / MIB
                elif name == PY_TIME:   # a millisecond timing metric
                    agg["py_s"] += float(upd) / 1e3
            launch, finish = info.get("Launch Time"), info.get("Finish Time")
            if launch is not None and finish:
                durations.append(finish - launch)
                first = launch if first is None else min(first, launch)
                last = finish if last is None else max(last, finish)
        if durations:
            span = last - first
            if group not in longest or span > longest[group][0]:
                med = statistics.median(durations)
                skew = max(durations) / med if med > 0 else 1.0
                longest[group] = (span, skew)
    for group, (_, skew) in longest.items():
        out[group]["task_skew"] = skew
    return out


# the only events the fold reads; SQL plan events are most of a log's bytes
_WANTED = tuple('{"Event":"SparkListener' + k for k in
                ("TaskEnd", "StageSubmitted", "JobStart"))


def _read(path: str):
    with open(path) as fh:
        for line in fh:
            if line.startswith(_WANTED):
                yield json.loads(line)


def fold_event_log(path: str) -> "dict[str, dict]":
    """Fold one uncompressed, unrolled event log file of JSON lines."""
    return fold_events(_read(path))
