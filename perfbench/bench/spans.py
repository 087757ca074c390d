"""Span arithmetic: self time and attribution of listener events.

A span is a dict with keys id, parent (-1 for a root), name, start, end
(epoch ms) and attrs. The benchmark is one client making one call at a
time, so spans nest properly: a child lies inside its parent and
siblings do not overlap.
"""
import bisect


def from_dump(rows):
    return [{"id": r[0], "parent": r[1], "name": r[2], "start": r[3],
             "end": r[4], "attrs": r[5]} for r in rows]


def union_length(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children(spans):
    out = {s["id"]: [] for s in spans}
    out[-1] = []
    for s in spans:
        out[s["parent"]].append(s)
    for v in out.values():
        v.sort(key=lambda c: c["start"])
    return out


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = children(spans)
    return {s["id"]: (s["end"] - s["start"]) - union_length(
                [(c["start"], c["end"]) for c in kids[s["id"]]],
                s["start"], s["end"])
            for s in spans}


class Timeline:
    """Which span is innermost at any instant (-1 outside every span)."""

    def __init__(self, spans):
        kids = children(spans)
        self.times, self.ids = [], []

        def emit(t, sid):
            self.times.append(t)
            self.ids.append(sid)

        def walk(s):
            emit(s["start"], s["id"])
            for c in kids[s["id"]]:
                walk(c)
                emit(c["end"], s["id"])  # back in the parent

        for root in kids[-1]:
            walk(root)
            emit(root["end"], -1)

    def at(self, t):
        """Innermost span containing instant t; an instant where one span
        ends and the next begins belongs to the one beginning."""
        i = bisect.bisect_right(self.times, t) - 1
        return self.ids[i] if i >= 0 else -1


def attribute(spans, times):
    """For each event time, the innermost enclosing span id (or -1)."""
    tl = Timeline(spans)
    return [tl.at(t) for t in times]
