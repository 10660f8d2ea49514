"""Product-path benchmark: whole YAML projects through ``run_project``.

    python3 perfbench/run.py --workload render_native --seed 1 --seconds 6 --trace 0

One SparkSession on ``local[CORES]``, one client in a closed loop: the
next project run starts when the previous one has written its last
destination. Before every run the previous run's cached Datasets and RDDs
are released and the run gets a fresh output directory and runs file.
Every run's output is checked (``checks.py``); a run that raises or fails
its check counts as failed.

``--trace 0`` prints the end-to-end metrics, measured in ``FORKS`` fresh
child processes (``--fork``) started one after another. Each sets up
(``setup_s``), makes the cold run (``cold_run_s``) and ``WARMUP_RUNS``
untimed warm runs, then times warm runs for its share of ``--seconds`` (at
least ``MIN_RUNS``). The result gives the medians over the forks, and
``run_s`` is the median of all their timed runs together. ``--trace 1``
runs in this process: it interleaves untraced and traced warm runs and
prints the per-layer metrics of the traced ones (``tracing.py``) plus the
tracing overhead. The last stdout line is the JSON result. Inputs, outputs
and traces go under ``.perfbench/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import pandas as pd

import checks
import inputs
from tracing import SparkCounters, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("render_native", "render_jinja")
RENDER_NATIVE_ROWS = 300_000
RENDER_JINJA_ROWS = 10_000
#: Spark task slots, half of a 4-vCPU machine: the JVM's JIT and GC
#: threads, the Python driver and (on render_jinja) one Python worker per
#: slot need CPU too, and should not queue behind the tasks
CORES = 2
#: fresh processes ("forks") per end-to-end run, one after another. Each
#: JVM settles at a speed of its own (JIT decisions, the host's load at the
#: time), so the pooled warm runs of two processes vary less from one
#: invocation to the next than those of one. Every fork sets up, makes the
#: cold run and its share of the warm runs
FORKS = 2
#: warm runs after the cold one that are checked but not timed: the first
#: is still 10-20% slower than the ones after it while the JIT compiles the
#: hot paths
WARMUP_RUNS = 1
#: every fork times at least this many warm runs
MIN_RUNS = 2
#: a window that cannot reach MIN_RUNS successful runs gives up here
MAX_ATTEMPTS = 30

SPARK_CONF = {
    "spark.driver.memory": "1g",
    # with the default 4 MB open cost a file under 16 MB is one split;
    # a small open cost splits the scaled-down inputs across the cores
    # the way full-size inputs are split
    "spark.sql.files.openCostInBytes": str(64 << 10),
    "spark.local.dir": os.path.join(WORK, "spark-local"),
    # a fixed-size, pre-touched heap (-Xms = spark.driver.memory) is
    # resident from the start: otherwise peak_rss_mb grows with how much of
    # a 2 GB heap G1 has reached by the end of the window (1.2 to 2.0 GB
    # over four render_jinja runs), not with what the workload holds
    "spark.driver.extraJavaOptions":
        f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
        "-XX:-UsePerfData",
}


def process_age() -> float:
    """Seconds since this process started (Linux ``/proc``)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# -- set-up -----------------------------------------------------------------

def warmups(spark) -> dict:
    """Engine-generic warm-ups, on synthetic data only (never a workload
    input). Each pays a once-per-session cost that every workload would
    otherwise pay in its cold run: the first job and codegen, and the first
    JVM->Python Arrow crossing (worker start, Arrow and pandas imports).
    First uses of a file format, a shuffle or a join stay in ``cold_run_s``,
    as a CLI user pays them."""
    from pyspark.sql import functions as F

    # nested, so workers unpickle it by value whether or not this module
    # is importable there
    def _upper(s: pd.Series) -> pd.Series:
        return s.str.upper()

    upper = F.pandas_udf(_upper, "string")
    steps = {
        "range_count": lambda: spark.range(1).count(),
        "arrow_pandas_udf": lambda: spark.range(64).select(
            upper(F.col("id").cast("string"))).write.format("noop").mode(
            "overwrite").save(),
    }
    manifest = {}
    for name, step in steps.items():
        t0 = time.perf_counter()
        step()
        manifest[name] = round(time.perf_counter() - t0, 4)
    return manifest


def start_session():
    from earthmover_spark import get_spark

    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
                      extra_conf=SPARK_CONF)
    return spark, warmups(spark)


def run_fork(name: str, seed: int, seconds: float, rows: int | None) -> dict:
    """One fresh child process (``--fork``): see ``measure_fork``. Called
    while no other session of this benchmark is running."""
    cmd = [sys.executable, os.path.abspath(__file__), "--fork", "--workload", name,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd + (["--rows", str(rows)] if rows else []),
                          capture_output=True, text=True, timeout=120)
    sys.stderr.write(proc.stderr)
    if proc.returncode:
        raise SystemExit(f"fork exited with {proc.returncode}")
    return json.loads(proc.stdout.splitlines()[-1])


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit. The
    JVM leaves when its stdin closes; workers leave when the JVM does."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                os.kill(pid, 9)
            break
        time.sleep(0.1)


# -- run isolation and memory ---------------------------------------------

def release_cached(spark) -> int:
    """Unpersist every cached Dataset and RDD; returns how many persistent
    RDDs the previous run left behind."""
    jsc = spark.sparkContext._jsc
    leftover = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    return leftover


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root`` (Linux ``/proc``)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and its descendants (the JVM,
    Python workers). PSS splits shared pages between the processes that
    map them, so forked Python workers are not counted twice."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakMemory:
    """Samples the process tree's memory every ``interval`` seconds. One
    sample reads every page table of a 2 GB tree (about 30 ms of CPU), so
    sampling is sparse: the pre-touched heap and the long-lived Python
    workers make the peak flat."""

    def __init__(self, interval: float = 2.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_pss_bytes(pid))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        # a window shorter than the interval still gets a sample
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


# -- workloads --------------------------------------------------------------

class RenderWorkload:
    """One project: TSV source -> map/rename/add_columns -> JSONL render
    in ``attendance_events``, and in ``render_jinja`` a ``school_summary``
    of the same node. A project whose config sets ``state_file`` hashes its
    inputs; it runs with ``force`` and a fresh runs file, which must get an
    entry."""

    def __init__(self, spark, project: str, rows: int, seed: int):
        from earthmover_spark.plans.config import compile_config

        self.spark = spark
        self.rows = rows
        self.project_dir = os.path.join(HERE, "projects", project)
        self.config = os.path.join(self.project_dir, "earthmover.yaml")
        compiled = compile_config(self.config)
        self.hashing = bool(compiled.config.get("state_file"))
        self.input = inputs.cached(os.path.join(WORK, "cache"), "attendance", rows, seed)
        self.expected = checks.expected_lines(self.project_dir, self.input, seed)
        self.summary = (checks.expected_summary(self.project_dir, self.input)
                        if checks.SUMMARY_DEST in compiled.destinations else None)

    def run(self, out_dir: str) -> tuple[float, int, dict[str, str]]:
        """Time one project run and check its output; returns the seconds,
        the output lines and {destination: path}."""
        from earthmover_spark.plans.executor import run_project

        runs_file = os.path.join(out_dir, "runs.csv") if self.hashing else None
        t0 = time.perf_counter()
        results = run_project(
            self.spark, self.config, params={"INPUT_FILE": self.input},
            output_dir=out_dir, runs_file=runs_file, force=self.hashing,
        )
        seconds = time.perf_counter() - t0
        if runs_file and not os.path.exists(runs_file):
            raise RuntimeError("run wrote no runs-file entry")
        paths = {dest.rsplit(".", 1)[-1]: path for dest, path in results.items()
                 if not dest.startswith("__")}
        want = {checks.ROW_DEST} | ({checks.SUMMARY_DEST} if self.summary is not None else set())
        if set(paths) != want:
            raise checks.CheckFailed(f"destinations {sorted(paths)}, want {sorted(want)}")
        rows = checks.check_render(paths[checks.ROW_DEST], self.rows, self.expected)
        if self.summary is not None:
            rows += checks.check_summary(paths[checks.SUMMARY_DEST], self.summary)
        return seconds, rows, paths


def make_workload(name: str, spark, seed: int, rows: int | None = None):
    if name == "render_native":
        return RenderWorkload(spark, "render_native", rows or RENDER_NATIVE_ROWS, seed)
    if name == "render_jinja":
        return RenderWorkload(spark, "render_jinja", rows or RENDER_JINJA_ROWS, seed)
    raise SystemExit(f"unknown workload {name!r}")


# -- measurement ------------------------------------------------------------

class Runner:
    def __init__(self, spark, workload, name: str):
        self.spark = spark
        self.workload = workload
        self.out_root = os.path.join(WORK, "out", name)
        self.attempted = 0
        self.errors: list[str] = []
        self._n = 0

    def run(self) -> dict | None:
        """One isolated, checked run; None when it raised or failed."""
        leftover = release_cached(self.spark)
        shutil.rmtree(self.out_root, ignore_errors=True)
        out_dir = os.path.join(self.out_root, f"run{self._n}")
        self._n += 1
        self.attempted += 1
        try:
            seconds, rows, paths = self.workload.run(out_dir)
        except Exception as exc:  # a failed run is counted, not fatal
            self.errors.append(f"{type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
            return None
        print(f"run {self._n - 1}: {seconds:.3f} s, {rows} rows, "
              f"{leftover} leftover cached", file=sys.stderr)
        return {"seconds": seconds, "rows": rows, "leftover": leftover,
                "bytes": sum(os.path.getsize(p) for p in paths.values())}


def warm_up(runner: Runner) -> None:
    """The cold run's successors that still run JIT-slow; checked, not
    timed."""
    for _ in range(WARMUP_RUNS):
        runner.run()


def measure_fork(runner: Runner, seconds: float) -> dict:
    """What one fresh process measures after its set-up: the cold run
    (None if it failed), ``WARMUP_RUNS`` untimed runs, then warm runs for
    ``seconds`` (at least ``MIN_RUNS``) and the memory peak over them."""
    cold = runner.run()
    warm_up(runner)
    warm = []
    with PeakMemory() as mem:
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < seconds
               or len(warm) < MIN_RUNS and runner.attempted < MAX_ATTEMPTS):
            r = runner.run()
            if r is not None:
                warm.append(r)
    return {"cold_run_s": cold and cold["seconds"],
            "runs_s": [r["seconds"] for r in warm],
            "rows": [r["rows"] for r in warm],
            "peak_rss_mb": mem.peak / 2**20}


def end_to_end(forks: list[dict]) -> dict:
    """The end-to-end metrics over ``FORKS`` forks: medians of their
    set-up and cold-run times and of all their warm runs together."""
    if None in [f["cold_run_s"] for f in forks] or not all(f["runs_s"] for f in forks):
        raise SystemExit("a fork had no successful cold or warm run")
    run_s = statistics.median(t for f in forks for t in f["runs_s"])
    rows = statistics.median(n for f in forks for n in f["rows"])
    return {
        "setup_s": (statistics.median(f["setup_s"] for f in forks), "s"),
        "cold_run_s": (statistics.median(f["cold_run_s"] for f in forks), "s"),
        "run_s": (run_s, "s"),
        "out_rows_per_s": (rows / run_s, "rows/s"),
        "peak_rss_mb": (statistics.median(f["peak_rss_mb"] for f in forks), "MB"),
    }


PER_LAYER_UNITS = {
    "config.compile_s": "s", "runs.hash_s": "s", "runs.hashed_bytes": "B",
    "sources.read_s": "s", "spark.input_bytes": "B",
    "ops.build_s": "s", "ops.eager_jobs": "count",
    "jinja.templates": "count", "jinja.udf_templates": "count", "jinja.build_s": "s",
    "udf.rows": "count", "udf.python_s": "s", "udf.bytes_sent": "B",
    "executor.persisted_nodes": "count", "executor.leftover_cached": "count",
    "dest.write_s": "s", "dest.spark_write_s": "s", "dest.concat_s": "s", "dest.bytes": "B",
    "plan.analyze_s": "s", "plan.optimize_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "trace.run_s": "s", "trace.overhead_s": "s",
}
_LAYER_TIMES = {
    "config.compile_s": "config", "runs.hash_s": "runs", "sources.read_s": "sources",
    "ops.build_s": "ops", "jinja.build_s": "jinja", "dest.write_s": "dest",
    "dest.spark_write_s": "spark_write", "dest.concat_s": "concat",
}


def per_layer(runner: Runner, seconds: float, name: str, seed: int) -> dict:
    """Untraced and traced warm runs in the order plain, traced, traced,
    plain, ..., so the JIT speeding up successive runs does not land on
    one side of ``trace.overhead_s``; per-layer metrics are the medians
    over the traced runs."""
    tracer = Tracer(runner.spark)
    counters = SparkCounters(runner.spark)
    runner.run()  # cold, untraced
    warm_up(runner)
    plain, traced = [], []
    t0 = time.perf_counter()
    i = 0
    while (time.perf_counter() - t0 < seconds
           or min(len(plain), len(traced)) < MIN_RUNS
           and runner.attempted < MAX_ATTEMPTS):
        if i % 4 in (1, 2):
            tracer.run_id = i
            tracer.counts.clear()
            tracer.install()
            counters.delta()
            try:
                r = runner.run()
            finally:
                tracer.uninstall()
            if r is not None:
                m = {**tracer.counts, **counters.delta()}
                for metric, layer in _LAYER_TIMES.items():
                    m[metric] = tracer.layer_seconds(i, layer)
                m["executor.leftover_cached"] = r["leftover"]
                m["dest.bytes"] = r["bytes"]
                m["trace.run_s"] = r["seconds"]
                traced.append(m)
        else:
            r = runner.run()
            if r is not None:
                plain.append(r["seconds"])
        i += 1
    if not plain or not traced:
        raise SystemExit("no successful run: " + "; ".join(runner.errors[:3]))
    out = {k: (statistics.median(m.get(k, 0.0) for m in traced), u)
           for k, u in PER_LAYER_UNITS.items()}
    out["trace.overhead_s"] = (out["trace.run_s"][0] - statistics.median(plain), "s")
    path = os.path.join(WORK, "trace", f"{name}-{seed}.json")
    tracer.dump(path, {"workload": name, "seed": seed, "runs": traced})
    top = sorted(tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"])[:10]
    print(f"spans written to {path}; largest self times over {len(traced)} traced runs:",
          file=sys.stderr)
    for span, row in top:
        print(f"  {span:32s} {row['self_s']:8.3f} s in {row['calls']} calls", file=sys.stderr)
    return out


def result(attempted: int, errors: list[str], metrics: dict) -> str:
    for err in errors:
        print("failed run:", err, file=sys.stderr)
    return json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fork", action="store_true", help=argparse.SUPPRESS)
    # input rows instead of the workload's own size (the self-test)
    ap.add_argument("--rows", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not args.trace and not args.fork:
        forks = [run_fork(args.workload, args.seed, args.seconds / FORKS, args.rows)
                 for _ in range(FORKS)]
        print(json.dumps({"forks": forks}), file=sys.stderr)
        print(result(sum(f["attempted"] for f in forks),
                     [e for f in forks for e in f["errors"]], end_to_end(forks)))
        return 0

    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    spark, manifest = start_session()
    setup_s = process_age()
    print(json.dumps({"warmups_s": manifest}), file=sys.stderr)
    try:
        runner = Runner(spark, make_workload(args.workload, spark, args.seed, args.rows),
                        args.workload)
        if args.trace:
            metrics = per_layer(runner, args.seconds, args.workload, args.seed)
        else:
            fork = {"setup_s": setup_s, **measure_fork(runner, args.seconds)}
        release_cached(spark)
    finally:
        stop_session(spark)
        shutil.rmtree(os.path.join(WORK, "out", args.workload), ignore_errors=True)
    if args.trace:
        print(result(runner.attempted, runner.errors, metrics))
    else:
        print(json.dumps({**fork, "attempted": runner.attempted, "errors": runner.errors}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
