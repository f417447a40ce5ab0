"""Layered benchmark for the usgs_lidar_spark engine.

    python3 perfbench/run.py --workload graph_fold --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 16

Run from the root of a checkout. Each run is one closed loop with one
client thread: it builds a query with ``QUERIES[name](spark, dir)``,
forces it, then sends the next. A pass runs every query of the workload
once, in an order shuffled by ``--seed``. The tables come from
``datagen.py`` (fixed data, so ``expected.json`` holds for every seed).

A run:

1. makes a fresh run directory under ``.perfbench_run/`` and points
   ``TMPDIR``, the JVM's temp dir, Spark's local dirs and the event log
   into it, so index builds cached under the temp dir are paid in every
   run; it puts the checkout on ``PYTHONPATH`` so the Python workers
   import the package from any working directory;
2. writes the tables, starts the session on ``local[nproc]`` and runs the
   cold pass, collecting every answer. Session start plus the cold pass is
   ``setup_s``. Each answer's row count and canonical digest (the
   ``tests/parity.canonical_rows`` form) are compared with ``expected.json``
   outside that timer;
3. runs one untimed warm-up pass, then ``timed_passes(--seconds)`` timed
   passes (one per 4 s, at least three; about ``--seconds`` on a 4-core
   box; ``pass_s`` is their median), forcing each query with ``count()``
   and comparing the count with the expected row count;
4. with ``--trace 1``, alternates as many untraced and traced passes (half
   each, at least two; see ``tracing.py``, ``Runner.alternate``) and
   reports the per-layer metrics of the traced passes plus the tracing
   overhead (traced minus untraced ``pass_s``).

Compute-bound calibration riders (a JVM aggregate and a Python loop) run
before and after the passes. They, the environment (master,
defaultParallelism, nproc, versions, seed) and the per-pass detail go to
the ``# detail`` line on stdout and to ``.perfbench_results/``. The last
stdout line is the result object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the ``end_to_end`` metrics of ``BENCHMARK.json`` (``--trace 0``) or
its ``per_layer`` metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]


#: The workloads; ``BENCHMARK.json`` records why each was chosen.
WORKLOADS = {
    # Connected components and construction-time pins: jobs fired while
    # the plan is built (ROADMAP direction 2).
    "graph_fold": Workload(0.001, ("mm_near_dedup",)),
    # The mapInArrow kernels behind the impl= switches (ROADMAP directions
    # 3 and 5): Python-worker time.
    "arrow_kernels": Workload(0.01, (
        "pipe_contamination", "sim_knn_label_gate",
    )),
}

#: Scale of the self-test (``selftest.py``), for every workload.
SELFTEST_SF = 0.001

RUN_ROOT = ".perfbench_run"
RESULTS_DIR = ".perfbench_results"
PACKAGE = "usgs_lidar_spark"


class SetupError(RuntimeError):
    """The working directory is not a usable checkout."""


def checkout_root() -> str:
    root = os.getcwd()
    for need in (os.path.join(PACKAGE, "__init__.py"), "BENCHMARK.json",
                 os.path.join("tests", "parity.py")):
        if not os.path.isfile(os.path.join(root, need)):
            raise SetupError(f"{root} is not a checkout: {need} is missing")
    return root


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- run directory -----------------------------------------------------------

class RunDir:
    """A fresh per-process directory holding temp files, Spark local dirs,
    the event log and the generated tables; removed on exit."""

    def __init__(self, root: str):
        base = os.path.join(root, RUN_ROOT)
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"{os.getpid()}-", dir=base)
        self.base = base
        for sub in ("tmp", "local", "eventlog", "data"):
            os.makedirs(os.path.join(self.path, sub))
        self.tmp = os.path.join(self.path, "tmp")
        self.local = os.path.join(self.path, "local")
        self.eventlog = os.path.join(self.path, "eventlog")
        self.data = os.path.join(self.path, "data")
        self._saved_env = {k: os.environ.get(k) for k in
                           ("TMPDIR", "SPARK_LOCAL_DIRS", "PYTHONPATH")}
        self._saved_tempdir = tempfile.tempdir
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        tempfile.tempdir = self.tmp

    def close(self) -> None:
        for k, v in self._saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = self._saved_tempdir
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(self.base)
        except OSError:
            pass  # another run still owns a directory there


# -- answers -----------------------------------------------------------------

def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def sf_key(sf: float) -> str:
    return f"sf{sf:g}"


def answer_of(pdf) -> dict:
    """Row count and canonical digest of a result frame."""
    from parity import canonical_rows

    cols, rows = canonical_rows(pdf)
    blob = json.dumps([cols, rows], separators=(",", ":")).encode()
    return {"rows": len(rows), "digest": hashlib.sha256(blob).hexdigest()}


# -- session -----------------------------------------------------------------

def start_session(run: RunDir, traced: bool):
    from usgs_lidar_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        # The JVM's own temp files (native libraries, artifacts) stay in the
        # run directory, and it writes no hsperfdata file.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData",
    }
    if traced:
        from tracing import EVENTLOG_CONF

        extra.update(EVENTLOG_CONF)
        extra["spark.eventLog.dir"] = "file://" + run.eventlog
    return get_spark(app_name="perfbench", cpus=nproc(), extra_conf=extra)


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def environment(spark, seed: int, workload: str, sf: float) -> dict:
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    return {
        "workload": workload,
        "seed": seed,
        "sf": sf,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": nproc(),
        "cpu_count": os.cpu_count(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


#: JVM probe size: a compute-bound hash aggregate over this many rows
#: (1.0-2.5 s on 4 cores of a shared 2020s x86 server, JVM warm).
CALIBRATION_ROWS = 500_000_000


def calibrate(spark) -> dict[str, float]:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(CALIBRATION_ROWS).select(
        F.sum(F.xxhash64("id") % 1009).alias("s")).collect()
    jvm = time.perf_counter() - t0
    t0 = time.perf_counter()
    acc = 0
    for i in range(2 * 10**6):
        acc ^= i * 31 + (i >> 3)
    py = time.perf_counter() - t0
    return {"jvm_hash_agg_s": round(jvm, 4), "py_loop_s": round(py, 4)}


def peak_rss_mb(spark) -> float:
    """VmHWM of the Python driver plus the driver JVM, in MB."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024.0


# -- the loop ----------------------------------------------------------------

class Runner:
    """Runs the workload's queries and keeps timings and failures."""

    def __init__(self, spark, workload: str, data_dir: str, expected: dict,
                 seed: int):
        """``expected``: {query: {"rows", "digest"}} at the data's scale."""
        from usgs_lidar_spark.plans.queries import QUERIES

        self.spark = spark
        self.queries = QUERIES
        self.wl = WORKLOADS[workload]
        self.data_dir = data_dir
        self.expected = expected
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = None

    def order(self) -> list[str]:
        qs = list(self.wl.queries)
        self.rng.shuffle(qs)
        return qs

    def _fail(self, q: str, why: str) -> None:
        self.failures.append(f"{q}: {why}")
        print(f"# FAIL {q}: {why}", file=sys.stderr)

    def _span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def _build(self, q: str):
        with self._span(f"plans.{q}", "plans"):
            return self.queries[q](self.spark, self.data_dir)

    def cold_pass(self) -> float:
        """Collect every answer; returns the pass wall without the digest
        work, which runs outside the timer."""
        wall = 0.0
        for q in self.order():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                pdf = self._build(q).toPandas()
            except Exception:  # noqa: BLE001 - a failing query is a result
                self._fail(q, traceback.format_exc(limit=3))
                continue
            finally:
                wall += time.perf_counter() - t0
            got, want = answer_of(pdf), self.expected[q]
            if got != want:
                self._fail(q, f"answer {got} != expected {want}")
        return wall

    def one_pass(self, times: dict[str, list[float]]) -> float:
        t_pass = time.perf_counter()
        for q in self.order():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self._span(f"query.{q}", "query"):
                    df = self._build(q)
                    with self._span(f"exec.{q}", "exec"):
                        n = df.count()
            except Exception:  # noqa: BLE001 - a failing query is a result
                self._fail(q, traceback.format_exc(limit=3))
                continue
            finally:
                times.setdefault(q, []).append(time.perf_counter() - t0)
            if n != self.expected[q]["rows"]:
                self._fail(q, f"{n} rows, expected {self.expected[q]['rows']}")
        return time.perf_counter() - t_pass

    def passes(self, n: int, times: dict[str, list[float]]) -> list[float]:
        walls: list[float] = []
        for _ in range(n):
            walls.append(self.one_pass(times))
        return walls

    def alternate(self, tracer, n_each: int,
                  times: dict[str, list[float]]):
        """``n_each`` untraced and ``n_each`` traced passes in the order
        U T T U U T T U ..., so that a steady drift (the JIT still warming)
        cancels in the overhead. Returns both lists of walls."""
        plain: list[float] = []
        traced: list[float] = []
        for i in range(2 * n_each):
            if i % 4 in (0, 3):
                plain.append(self.one_pass({}))
                continue
            tracer.pass_no = len(traced)
            tracer.install()
            self.tracer = tracer
            try:
                traced.append(self.one_pass(times))
            finally:
                tracer.uninstall()
                self.tracer = None
        return plain, traced


# -- metrics -----------------------------------------------------------------

def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4, method="inclusive")


def end_to_end(walls, times, setup_s, failed, attempted):
    geo = math.exp(statistics.fmean(
        math.log(statistics.median(ts)) for ts in times.values()))
    return {
        "pass_s": (statistics.median(walls), "s"),
        "query_geomean_s": (geo, "s"),
        "setup_s": (setup_s, "s"),
        "correct_frac": ((attempted - failed) / attempted, "ratio"),
    }


def benchmark_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def select(spec_metrics: list[dict], values: dict,
           zero_prefixes: tuple[str, ...] = ()) -> dict:
    """The metrics ``spec_metrics`` names, as {name: {value, unit}}."""
    out = {}
    for m in spec_metrics:
        name = m["name"]
        if name in values:
            v, unit = values[name]
        elif name.startswith(zero_prefixes):
            v, unit = 0, m["unit"]
        else:
            raise KeyError(f"metric {name} was not produced")
        if unit != m["unit"]:
            raise ValueError(f"{name}: unit {unit} != {m['unit']}")
        out[name] = {"value": v, "unit": unit}
    return out


# -- one run -----------------------------------------------------------------

#: Seconds of ``--seconds`` per timed pass. The pass count is fixed by
#: ``--seconds``, not by the clock: the JIT keeps speeding passes up for
#: several passes, so a time-bounded count let a slow box run fewer, earlier
#: (slower) passes and amplified its slowdown in ``pass_s``.
SECONDS_PER_PASS = 4


def timed_passes(seconds: float) -> int:
    """Timed passes of a run: one per ``SECONDS_PER_PASS``, at least 3."""
    return max(3, round(seconds / SECONDS_PER_PASS))


def measure(workload: str, seed: int, seconds: float, traced: bool,
            sf: float | None = None):
    """One run in a fresh session; returns (result, detail, values), where
    values maps every metric produced to (value, unit)."""
    root = checkout_root()
    sys.path.insert(0, os.path.join(root, "tests"))  # parity.canonical_rows
    if root not in sys.path:
        sys.path.insert(0, root)
    sf = WORKLOADS[workload].sf if sf is None else sf
    expected = load_expected()["answers"][sf_key(sf)]
    rundir = RunDir(root)
    spark = None
    try:
        import datagen

        datagen.write_tables(rundir.data, sf)
        t0 = time.perf_counter()
        spark = start_session(rundir, traced)
        session_s = time.perf_counter() - t0
        detail = {"env": environment(spark, seed, workload, sf),
                  "session_start_s": session_s}
        runner = Runner(spark, workload, rundir.data, expected, seed)
        detail["cold_pass_s"] = cold_s = runner.cold_pass()
        calib_pre = calibrate(spark)
        # One untimed pass: the JIT is still compiling after the cold pass
        # (the next pass runs 15-30% slower than the one after it).
        detail["warm_pass_s"] = runner.one_pass({})
        times: dict[str, list[float]] = {}
        n = timed_passes(seconds)
        if not traced:
            walls = runner.passes(n, times)
        else:
            import tracing

            tracer = tracing.Tracer(spark)
            walls, traced_walls = runner.alternate(tracer, max(2, n // 2),
                                                   times)
        rss = peak_rss_mb(spark)
        calib_post = calibrate(spark)
        stop_session(spark)
        spark = None
        failed = len(runner.failures)
        runs = [t for ts in times.values() for t in ts]
        detail.update({
            "peak_rss_mb": rss,
            "calibration": {"pre": calib_pre, "post": calib_post},
            "passes": {"n": len(walls), "walls_s": walls,
                       "quartiles_s": quartiles(walls)},
            "query_runs": len(runs),
            # Too few runs per process for a gated tail percentile.
            "query_p90_s": statistics.quantiles(runs, n=10,
                                                method="inclusive")[8]
            if len(runs) > 1 else runs[0],
            "query_median_s": {q: statistics.median(v)
                               for q, v in sorted(times.items())},
            "failures": runner.failures,
        })
        if traced:
            detail["traced_passes"] = {"n": len(traced_walls),
                                       "walls_s": traced_walls}
            values = tracing_metrics(tracer, rundir, walls, traced_walls,
                                     session_s, detail)
        else:
            values = end_to_end(walls, times, session_s + cold_s, failed,
                                runner.attempted)
        save_detail(root, detail, tracer if traced else None)
        result = {"correct": failed == 0, "attempted": runner.attempted,
                  "failed": failed}
        return result, detail, values
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            rundir.close()


def run(workload: str, seed: int, seconds: float, traced: bool) -> int:
    root = checkout_root()
    spec = benchmark_spec(root)
    result, detail, values = measure(workload, seed, seconds, traced)
    if traced:
        metrics = select(spec["per_layer"], values, zero_prefixes=ZERO_OK)
    else:
        metrics = select(spec["end_to_end"], values)
    print("# detail " + json.dumps(detail, default=float))
    print(json.dumps({**result, "metrics": metrics}))
    return 0


#: Per-function metrics of the wrapped layers read 0 in a run that never
#: calls the function.
ZERO_OK = ("catalog.", "operators.", "functions.")


def tracing_metrics(tracer, rundir, walls, traced_walls, session_s,
                    detail) -> dict:
    import layers
    import tracing

    groups = tracing.parse_event_log(tracing.event_log_file(rundir.eventlog))
    per_pass = [layers.pass_metrics(tracer.spans, groups, p)
                for p in range(len(traced_walls))]
    detail["trace"] = {"per_pass": per_pass, "spans": len(tracer.spans)}
    values = layers.median_metrics(per_pass)
    values["session.start_s"] = (session_s, "s")
    untraced, traced_ = statistics.median(walls), statistics.median(traced_walls)
    values["trace.untraced_pass_s"] = (untraced, "s")
    values["trace.traced_pass_s"] = (traced_, "s")
    values["trace.overhead_s"] = (traced_ - untraced, "s")
    return values


def save_detail(root: str, detail: dict, tracer=None) -> None:
    """Write the run's detail (and spans) under ``.perfbench_results/``."""
    out = os.path.join(root, RESULTS_DIR)
    os.makedirs(out, exist_ok=True)
    env = detail["env"]
    stem = os.path.join(out, f"{env['workload']}-seed{env['seed']}-"
                        f"trace{int(tracer is not None)}-{time.time_ns()}")
    if tracer is not None:
        tracer.dump(stem + ".spans.jsonl")
    with open(stem + ".json", "w") as fh:
        json.dump(detail, fh, indent=1, default=float)


# -- every workload ----------------------------------------------------------

def run_all(seed: int, seconds: float, traced: bool) -> int:
    """Each workload in its own process; prints one table of metrics."""
    checkout_root()
    rc = 0
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(int(traced))],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w}: run failed (exit {proc.returncode})")
            rc = 1
            continue
        res = json.loads(lines[-1])
        detail = json.loads(lines[-2][len("# detail "):])
        n_pass = detail["passes"]["n"]
        q = detail["passes"]["quartiles_s"]
        print(f"== {w}: correct={res['correct']} attempted={res['attempted']}"
              f" failed={res['failed']} passes={n_pass} "
              f"query_runs={detail['query_runs']} "
              f"pass_s quartiles=[{q[0]:.3f}, {q[2]:.3f}]")
        for name, m in res["metrics"].items():
            print(f"   {name:48s} {m['value']:>14.4f} {m['unit']}")
        rc |= 0 if res["correct"] else 1
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # On SIGTERM, unwind so that the session stops and the run directory
    # is removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        if args.workload == "all":
            return run_all(args.seed, args.seconds, bool(args.trace))
        return run(args.workload, args.seed, args.seconds, bool(args.trace))
    except SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
