"""Spans around layer calls, self-time attribution and event-log counters.

A span is ``(id, name, start, end, parent, op, tid)`` with wall-clock
seconds, so it lines up with the millisecond timestamps of Spark's event
log. The layer of a span is the first dotted part of its name (``plans``,
``analytics``, ``sources`` ...); ``sources.layout.*`` spans also count as
``sources``.

Self time credits each instant of the root span to the innermost spans
open at that instant. When sibling spans overlap (parallel foreachBatch
processors), the instant is split evenly among them, so the self times of
all layers add up to the root span exactly.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one attribute
    check, so the untraced runs pay nothing measurable."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op=None, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        st = self._stack()
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": st[-1] if st else parent, "op": op,
               "tid": threading.get_ident()}
        st.append(sid)
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            st.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: int | None,
            op=None) -> int:
        """Record a span measured elsewhere (a pipeline step from
        ``execution_log``, a streaming epoch from query progress)."""
        sid = next(self._ids)
        with self._lock:
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, "op": op,
                               "tid": None})
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def _clamped(spans: list[dict]) -> dict[int, dict]:
    """Spans keyed by id, each clamped into its parent's interval (clock
    rounding can push a child a millisecond past its parent)."""
    by_id = {s["id"]: dict(s) for s in spans}

    def depth(s, seen=0):
        p = by_id.get(s["parent"])
        return 0 if p is None or seen > 64 else 1 + depth(p, seen + 1)

    for s in sorted(by_id.values(), key=depth):
        p = by_id.get(s["parent"])
        if p is not None:
            s["start"] = min(max(s["start"], p["start"]), p["end"])
            s["end"] = min(max(s["end"], s["start"]), p["end"])
    return by_id


def self_times(spans: list[dict], root_id: int) -> dict[int, float]:
    """Exclusive seconds per span under ``root_id`` (see module doc)."""
    by_id = _clamped(spans)
    children = defaultdict(list)
    for s in by_id.values():
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    under = []
    todo = [root_id]
    while todo:
        sid = todo.pop()
        under.append(sid)
        todo.extend(children[sid])
    edges = sorted({t for sid in under
                    for t in (by_id[sid]["start"], by_id[sid]["end"])})
    credit: dict[int, float] = defaultdict(float)
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        active = {sid for sid in under
                  if by_id[sid]["start"] <= mid < by_id[sid]["end"]}
        leaves = [sid for sid in active
                  if not any(c in active for c in children[sid])]
        for sid in leaves:
            credit[sid] += (b - a) / len(leaves)
    return credit


def layer_self_times(spans: list[dict], root_id: int) -> dict[str, float]:
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    for sid, sec in self_times(spans, root_id).items():
        out[layer_of(by_id[sid]["name"])] += sec
    return dict(out)


# -- Spark event log -------------------------------------------------------

def read_event_log(event_dir: str) -> list[dict]:
    """Events of the newest application log in ``event_dir`` (the session
    the timed loop ran on; earlier set-up sessions wrote older logs)."""
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)
            if not f.startswith(".")]
    if not logs:
        raise FileNotFoundError(f"no Spark event log under {event_dir}")
    newest = max(logs, key=os.path.getmtime)
    if os.path.isdir(newest):  # a rolling log: read its parts in order
        parts = sorted((f for f in os.listdir(newest) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(newest, f) for f in parts]
    else:
        files = [newest]
    keep = ("SparkListenerJobStart", "SparkListenerStageCompleted",
            "SparkListenerTaskEnd")
    out = []
    for path in files:
        with open(path) as f:
            for line in f:
                if any(k in line[:80] for k in keep):
                    out.append(json.loads(line))
    return out


def attribute_events(events: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Count jobs, stages, shuffle-write, spill and input bytes per span.

    A job belongs to the innermost span open at its submission time (the
    latest-started one when parallel spans overlap); its stages and tasks
    follow the job."""
    by_id = _clamped(spans)
    ordered = sorted(by_id.values(), key=lambda s: s["start"])

    def depth(s):
        d, p = 0, by_id.get(s["parent"])
        while p is not None and d < 64:
            d, p = d + 1, by_id.get(p["parent"])
        return d

    depths = {s["id"]: depth(s) for s in ordered}

    def owner(t: float) -> int | None:
        best = None
        for s in ordered:
            if s["start"] > t:
                break
            if t < s["end"] and (best is None or depths[s["id"]] >= depths[best["id"]]):
                best = s
        return None if best is None else best["id"]

    zero = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0}
    counts: dict[int, dict] = defaultdict(lambda: dict(zero))
    stage_owner: dict[int, int | None] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            sid = owner(ev["Submission Time"] / 1000.0)
            counts[sid]["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_owner[st] = sid
        elif kind == "SparkListenerStageCompleted":
            sid = stage_owner.get(ev["Stage Info"]["Stage ID"])
            counts[sid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_owner.get(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            c = counts[sid]
            c["tasks"] += 1
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c["output_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
    return dict(counts)


def sum_counts(counts: dict[int, dict], span_ids) -> dict:
    out: dict[str, int] = defaultdict(int)
    for sid in span_ids:
        for k, v in counts.get(sid, {}).items():
            out[k] += v
    return dict(out)


def descendants(spans: list[dict], root_id: int) -> set[int]:
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(children[sid])
    return out
