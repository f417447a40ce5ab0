"""Fast self-test of the benchmark and its tracing, at sf0.001.

    python3 perfbench/selftest.py

Run from the root of a checkout. For each workload it runs the cold pass,
the warm-up pass and two untraced and two traced passes, alternating, in
a fresh session, then checks:

* every ``per_layer`` metric of ``BENCHMARK.json`` is produced, and every
  answer matched ``expected.json``;
* the count metrics (``layers.COUNT_METRICS``) are identical in both
  traced passes;
* the spans' self times sum to no more than the traced pass's wall;
* the event log was read: graph_fold's connected-components rounds
  shuffle, so its ``shuffle.write_bytes`` are nonzero (a plain-text reader
  of a compressed log reads 0).

Exits 1 and names each failed check.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
from run import (SELFTEST_SF, WORKLOADS, ZERO_OK, benchmark_spec,  # noqa: E402
                 checkout_root, measure, select)


def check_workload(workload: str, spec: dict) -> list[str]:
    _, detail, values = measure(workload, seed=0, seconds=0,
                                traced=True, sf=SELFTEST_SF)
    problems = [f"{workload}: {f}" for f in detail["failures"]]
    try:
        select(spec["per_layer"], values, zero_prefixes=ZERO_OK)
    except (KeyError, ValueError) as e:
        problems.append(f"{workload}: {e}")
    first, second = detail["trace"]["per_pass"][:2]
    for name in layers.COUNT_METRICS:
        a, b = first[name][0], second[name][0]
        if a != b:
            problems.append(f"{workload}: {name} differs across passes: "
                            f"{a} vs {b}")
    for p, wall in zip(detail["trace"]["per_pass"],
                       detail["traced_passes"]["walls_s"]):
        if p["spans.self_s"][0] > wall:
            problems.append(f"{workload}: span self times "
                            f"{p['spans.self_s'][0]:.3f}s > pass {wall:.3f}s")
    if workload == "graph_fold":
        written = sum(first[f"shuffle.write_bytes.{phase}"][0]
                      for phase in ("construct", "exec"))
        if written <= 0:
            problems.append("graph_fold: shuffle.write_bytes is 0; the "
                            "event log was not read")
    print(f"# {workload}: {len(problems)} problem(s); counts "
          + ", ".join(f"{n}={first[n][0]:g}" for n in layers.COUNT_METRICS),
          file=sys.stderr)
    return problems


def main() -> int:
    spec = benchmark_spec(checkout_root())
    problems = [p for w in WORKLOADS for p in check_workload(w, spec)]
    for p in problems:
        print(f"FAIL {p}")
    print("selftest " + ("failed" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
