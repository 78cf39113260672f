"""In-memory span recorder for the traced benchmark run.

A span is (id, name, parent, run_id, start, end, attrs). Spans are opened
by the benchmark around each call it makes into a `reach_spark` module and
kept in a list; `write` dumps them as JSON lines when the run ends. The
layer of a span is the part of its name before the first dot; spans named
`bench.*` are the benchmark's own structure, not a layer.

Hooks run at span entry and exit (the Spark job-group accounting in
`perfbench.sparkstats` is one); an untraced run uses `Tracer(enabled=False)`,
which records nothing and calls no hook.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True, hooks=()):
        self.run_id = run_id
        self.enabled = enabled
        self.hooks = list(hooks)
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": None, "end": None,
               "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        for h in self.hooks:
            h.enter(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            for h in reversed(self.hooks):
                h.exit(rec, self.spans[self._stack[-1]]
                       if self._stack else None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")


def layer_of(name: str) -> str | None:
    layer = name.split(".", 1)[0]
    return None if layer == "bench" else layer


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    children cover."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def nesting_errors(spans: list[dict], tol: float = 1e-6) -> list[str]:
    """Every span closed, inside its parent's interval, with self time
    >= 0, and sharing its parent's run id. Returns the violations."""
    by_id = {s["id"]: s for s in spans}
    errs = []
    for s in spans:
        if s["start"] is None or s["end"] is None or s["end"] < s["start"]:
            errs.append(f"span {s['id']} {s['name']}: not closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            errs.append(f"span {s['id']} {s['name']}: unknown parent")
        elif p is not None:
            if s["start"] < p["start"] - tol or s["end"] > p["end"] + tol:
                errs.append(f"span {s['id']} {s['name']}: outside parent "
                            f"{p['name']}")
            if s["run_id"] != p["run_id"]:
                errs.append(f"span {s['id']} {s['name']}: run id differs "
                            "from its parent's")
    if not errs:
        for sid, st in self_times(spans).items():
            if st < -tol:
                errs.append(f"span {sid} {by_id[sid]['name']}: self time "
                            f"{st:.6f} < 0")
    return errs


def durations(spans: list[dict], name: str) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    """Layer -> summed self time of its spans."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        layer = layer_of(s["name"])
        if layer:
            out[layer] += st[s["id"]]
    return dict(out)


def layer_attr_sum(spans: list[dict], attr: str) -> dict[str, float]:
    """Layer -> sum of a numeric span attribute over its spans."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        layer = layer_of(s["name"])
        if layer and attr in s["attrs"]:
            out[layer] += s["attrs"][attr]
    return dict(out)
