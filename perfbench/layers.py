"""Per-layer metrics of one traced pass, from its spans and the event-log
totals of each span's job group (see ``tracing.py``).

Jobs, tasks and py4j commands are charged to the innermost span; the
``.jobs`` of a span name add those of its descendants. Self time is a
span's duration minus its children's (children never overlap: one client
thread). Task metrics are split by phase: ``.construct`` for jobs fired
while a query's plan is built, ``.exec`` for jobs of the forcing action.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

#: (metric, event-log field, unit) of the task metrics split by phase.
TASK_METRICS = (
    ("tasks.run_s", "run_s", "s"),
    ("tasks.cpu_s", "cpu_s", "s"),
    ("tasks.gc_s", "gc_s", "s"),
    ("tasks.failed", "failed", "count"),
    ("tasks.attempted", "tasks", "count"),
    ("shuffle.read_bytes", "shuffle_read", "bytes"),
    ("shuffle.write_bytes", "shuffle_write", "bytes"),
    ("shuffle.fetch_wait_s", "fetch_wait_s", "s"),
    ("spill.bytes", "spill", "bytes"),
    ("scan.input_bytes", "input_bytes", "bytes"),
    ("scan.input_rows", "input_rows", "count"),
    ("driver.result_bytes", "result_bytes", "bytes"),
)

PYTHON_METRICS = (
    ("python.run_s", "py_run_s", "s"),
    ("python.bytes_sent", "py_sent", "bytes"),
    ("python.bytes_returned", "py_returned", "bytes"),
)

#: Metrics that count work; they repeat exactly across passes of the same
#: code (the self-test checks it).
COUNT_METRICS = ("plans.construct_jobs", "plans.py4j_calls", "exec.jobs",
                 "catalog.load_table.jobs")

_EMPTY: dict[str, float] = defaultdict(float)


def pass_metrics(spans, groups: dict, pass_no: int) -> dict:
    """{metric: (value, unit)} for the traced pass ``pass_no``."""
    S = [s for s in spans if s.pass_no == pass_no]
    by_id = {s.id: s for s in S}
    kids = defaultdict(list)
    for s in S:
        if s.parent is not None:
            kids[s.parent].append(s)

    def dur(s):
        return s.t1 - s.t0

    def self_s(s):
        return dur(s) - sum(dur(c) for c in kids[s.id])

    def subtree(s):
        stack = [s]
        while stack:
            x = stack.pop()
            yield x
            stack.extend(kids[x.id])

    def group(s):
        return groups.get(f"pb{s.id}", _EMPTY)

    def total(roots, field):
        return sum(group(x)[field] for r in roots for x in subtree(r))

    # Spans are numbered as they open, so a parent precedes its children.
    ancestors: dict[int, tuple] = {}
    for s in S:
        p = by_id.get(s.parent)
        ancestors[s.id] = ancestors[p.id] + (p,) if p is not None else ()

    def outermost(key, value):
        """Spans whose ``key`` is ``value`` and no ancestor's is."""
        return [s for s in S if getattr(s, key) == value and all(
            getattr(a, key) != value for a in ancestors[s.id])]

    plans = [s for s in S if s.layer == "plans"]
    execs = [s for s in S if s.layer == "exec"]
    m = {
        "plans.construct_s": (sum(map(dur, plans)), "s"),
        "plans.self_s": (sum(map(self_s, plans)), "s"),
        "plans.construct_jobs": (total(plans, "jobs"), "count"),
        "plans.py4j_calls": (sum(x.py4j for r in plans for x in subtree(r)),
                             "count"),
        "exec.s": (sum(map(dur, execs)), "s"),
        "exec.jobs": (total(execs, "jobs"), "count"),
        "exec.stages": (total(execs, "stages"), "count"),
        "exec.tasks": (total(execs, "tasks"), "count"),
        "spans.self_s": (sum(map(self_s, S)), "s"),
    }
    for name, field, unit in TASK_METRICS:
        m[f"{name}.construct"] = (total(plans, field), unit)
        m[f"{name}.exec"] = (total(execs, field), unit)
    for name, field, unit in PYTHON_METRICS:
        m[name] = (total(plans + execs, field), unit)

    # catalog / operators / functions: per function name and per layer.
    names = sorted({s.name for s in S
                    if s.layer in ("catalog", "operators", "functions")})
    for name in names:
        top = outermost("name", name)
        m[f"{name}.s"] = (sum(map(dur, top)), "s")
        m[f"{name}.jobs"] = (total(top, "jobs"), "count")
        m[f"{name}.calls"] = (sum(1 for s in S if s.name == name), "count")
    for layer in ("catalog", "operators", "functions"):
        top = outermost("layer", layer)
        m[f"{layer}.s"] = (sum(map(dur, top)), "s")
        m[f"{layer}.jobs"] = (total(top, "jobs"), "count")
        m[f"{layer}.calls"] = (sum(1 for s in S if s.layer == layer), "count")
    return m


def median_metrics(per_pass: list[dict]) -> dict:
    """Per metric, the median over passes (0 where a pass lacks it)."""
    names = sorted({k for p in per_pass for k in p})
    out = {}
    for k in names:
        unit = next(p[k][1] for p in per_pass if k in p)
        out[k] = (statistics.median(p.get(k, (0.0, unit))[0]
                                    for p in per_pass), unit)
    return out
