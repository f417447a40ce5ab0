"""Derive or re-verify ``expected.json``: every workload query's answer on
the generated tables at the workload's scale and at the self-test's, from
its DuckDB oracle (``ORACLE[name]``).

    python3 perfbench/expected.py           # re-derive and write
    python3 perfbench/expected.py --check   # re-derive, compare, exit 1 on a difference

Run from the root of a checkout. An answer is the row count plus the
SHA-256 of ``tests/parity.canonical_rows`` of the oracle's result, the same
form ``run.py`` computes from the engine's answer on the cold pass.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from run import SELFTEST_SF, WORKLOADS, answer_of, checkout_root, sf_key  # noqa: E402

PATH = os.path.join(HERE, "expected.json")


def derive() -> dict:
    import duckdb

    root = checkout_root()
    sys.path[:0] = [root, os.path.join(root, "tests")]
    from usgs_lidar_spark.plans.queries import ORACLE

    answers: dict[str, dict] = {}
    for sf in sorted({w.sf for w in WORKLOADS.values()} | {SELFTEST_SF}):
        names = sorted({q for w in WORKLOADS.values()
                        if sf in (w.sf, SELFTEST_SF) for q in w.queries})
        with tempfile.TemporaryDirectory(prefix=".perfbench-expected-",
                                         dir=root) as d:
            datagen.write_tables(d, sf)
            con = duckdb.connect()
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{d}/{t}.parquet')")
            got = {}
            for q in names:
                t0 = time.perf_counter()
                got[q] = answer_of(con.execute(ORACLE[q]).fetchdf())
                print(f"# {sf_key(sf)} {q}: {got[q]['rows']} rows "
                      f"({time.perf_counter() - t0:.1f}s)", file=sys.stderr)
            con.close()
        answers[sf_key(sf)] = got
    return {"data_seed": datagen.DATA_SEED, "answers": answers}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    fresh = derive()
    if not args.check:
        with open(PATH, "w") as fh:
            json.dump(fresh, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 0
    with open(PATH) as fh:
        stored = json.load(fh)
    if stored != fresh:
        print("expected.json differs from the oracles' answers", file=sys.stderr)
        return 1
    print("expected.json matches the oracles' answers", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
