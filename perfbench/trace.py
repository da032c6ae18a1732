"""Span trees: loading, validation and self time per layer.

A span is ``{"id", "parent", "layer", "name", "start_ms", "end_ms",
"counts"}``; the root has parent ``""``.  A span's *self time* is its
duration minus the part of it covered by the union of its children (children
may overlap -- concurrent jobs, two streaming queries -- and are clipped to
the parent).  Without overlapping siblings the self times of a tree sum to
the root's duration; with them, to more (concurrent work counts per span).
"""
import json


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(intervals, lo, hi):
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def orphans(spans):
    """Ids of spans whose parent is not in the tree."""
    ids = {s["id"] for s in spans}
    return [s["id"] for s in spans if s["parent"] and s["parent"] not in ids]


def self_times(spans):
    """``{layer: summed self ms}``; spans without a known parent are
    ignored, as is everything below them."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    stack = [s for s in spans if not s["parent"]]
    while stack:
        s = stack.pop()
        children = kids.get(s["id"], [])
        dur = max(0.0, s["end_ms"] - s["start_ms"])
        own = dur - covered([(c["start_ms"], c["end_ms"]) for c in children],
                            s["start_ms"], s["end_ms"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
        stack.extend(children)
    return out
