#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --smoke

Runs one workload (see ``BENCHMARK.json`` and ``workloads.py``) in this
Python process on ``local[<cores>]``, one iteration at a time (a closed
loop with one client), and checks every iteration's outputs against
expected outputs computed independently with DuckDB. With ``--trace 0`` it
runs the workload's warm-up, then times iterations for ``--seconds`` (at
least one); with ``--trace 1`` it runs the per-layer trace instead
(``trace.py``).

Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it is the full record: every sample with quartiles, the
failure ratio, the expected-output digest, and the machine (cores, heap,
load before and after, CPU time stolen by the host during the run,
versions).

End-to-end metrics: ``setup_s`` (process start to the end of the warm-up,
minus the benchmark's own input generation and expected-output computation,
which run before the JVM starts), ``iter_s`` (median iteration wall),
``docs_per_sec`` (documents validated per iteration / ``iter_s``) and
``peak_rss_mb`` (the median over iterations of the peak summed resident
memory of this process and every descendant, the JVM and its Python
workers, during the iteration; the run's overall peak is in the record).

``--smoke`` runs every workload once at a tiny size, untraced and traced,
in one session, and exits non-zero unless every metric named in
``BENCHMARK.json`` was produced with its unit.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# documents in snapshot s1 of each workload's corpus (s2 appends half again)
SIZES = {"suite": 60_000, "suite_dirty": 60_000}
# the traced run measures its layers over a smaller s1, so that with the
# registry queries it ends well inside three minutes
TRACE_SIZE = 20_000
SMOKE_SIZE = 3_000
TRACE_RUNS = 3
# the whole engine runs in the driver JVM; sized to leave most of a 15 GB
# machine free (the session's own default is 24g)
DRIVER_MEM = "3g"
E2E_UNITS = {"setup_s": "s", "iter_s": "s", "docs_per_sec": "1/s",
             "peak_rss_mb": "MiB"}


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process exited while being read
        return ""


class PeakRss:
    """Samples the summed RSS of this process tree until stopped.

    A child that was forked and has not yet called exec, with the same
    virtual size and RSS as its parent, is the parent's address space seen
    a second time (a vfork child, which the JVM makes for every process it
    spawns), and is not counted."""

    INTERVAL_S = 0.2
    PF_FORKNOEXEC = 0x40

    def __init__(self) -> None:
        self.peak = self.window_peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree_bytes(self) -> int:
        procs: dict[int, tuple[int, int, int]] = {}
        children: dict[int, list[int]] = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                stat = _read(f"/proc/{pid}/stat")
                if stat:
                    f = stat.rsplit(")", 1)[1].split()
                    ppid = int(f[1])
                    procs[int(pid)] = (int(f[6]), int(f[20]), int(f[21]))
                    children.setdefault(ppid, []).append(int(pid))
        me = os.getpid()
        total, todo = procs.get(me, (0, 0, 0))[2], [me]
        while todo:
            pid = todo.pop()
            for child in children.get(pid, []):
                flags, vsize, rss = procs[child]
                if not (flags & self.PF_FORKNOEXEC
                        and (vsize, rss) == procs[pid][1:]):
                    total += rss
                todo.append(child)
        return total * self._page

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            now = self._tree_bytes()
            self.peak = max(self.peak, now)
            self.window_peak = max(self.window_peak, now)

    def take(self) -> float:
        """The peak in MiB since the last ``take``."""
        peak, self.window_peak = self.window_peak, 0
        return peak / 2**20

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20


def _loadavg() -> list[float]:
    return [float(x) for x in _read("/proc/loadavg").split()[:3]]


def _steal_s() -> float:
    """CPU time the host gave to others while this machine wanted it."""
    fields = _read("/proc/stat").split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 \
        else 0.0


def pin_box(work: str) -> int:
    """Cores from the CPU affinity mask (``nproc``); Spark scratch, JVM and
    Python temp dirs inside the checkout; the driver heap set explicitly."""
    cores = len(os.sched_getaffinity(0))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.abspath(local),
        "TMPDIR": os.path.abspath(tmp),
        # no hsperfdata files, which every JVM (spark-submit's launcher
        # too) would write under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    return cores


def start_spark(cores: int, work: str):
    from anomaly_detection_spark.session import get_spark

    tmp = os.path.abspath(os.path.join(work, "tmp"))
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          # initial heap = maximum: no heap resizing
                          # decisions that differ from run to run
                          "spark.driver.extraJavaOptions":
                              f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def versions(spark) -> dict[str, str]:
    import duckdb
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "python": sys.version.split()[0],
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version")}


def summary(samples: list[float]) -> dict:
    q = (statistics.quantiles(samples, n=4) if len(samples) > 1
         else samples * 3)
    return {"median": statistics.median(samples), "q1": q[0], "q3": q[2],
            "n": len(samples), "samples": samples}


class Attempts:
    """Iterations attempted and failed; a failure is an exception or an
    output mismatch."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run(self, step):
        """Run ``step`` (an iteration and its check) and return its result,
        or None when it failed."""
        self.attempted += 1
        try:
            return step()
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            traceback.print_exc()
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            return None


def measure(wl, seconds: float,
            rss: PeakRss) -> tuple[dict, dict, Attempts]:
    """Closed loop over warm iterations for ``seconds`` (at least one);
    returns the end-to-end metrics without set-up, and the record."""
    att = Attempts()
    walls: list[float] = []
    peaks: list[float] = []
    steals: list[float] = []
    t0 = time.monotonic()
    while not walls or time.monotonic() - t0 < seconds:
        rss.take()
        steal = _steal_s()
        wall = att.run(wl.timed)
        if wall is None and (att.failed >= 3 or not walls):
            break
        if wall is not None:
            walls.append(wall)
            peaks.append(rss.take())
            steals.append(_steal_s() - steal)
    record = {"window_s": time.monotonic() - t0}
    if not walls:
        return {}, record, att
    record["iter_s"] = summary(walls)
    record["peak_rss_mb"] = summary(peaks)
    # host CPU time stolen during each iteration (and its check)
    record["steal_s"] = steals
    iter_s = statistics.median(walls)
    return ({"iter_s": iter_s, "docs_per_sec": wl.docs_per_iteration / iter_s,
             "peak_rss_mb": statistics.median(peaks)}, record, att)


def run_workload(spark, wl, seconds: float, trace: bool, seed: int,
                 cores: int, trace_runs: int, warm_iterations: int,
                 rss: PeakRss) -> tuple[dict, dict, Attempts]:
    """The workload's warm-up of ``warm_iterations``, then the timed loop
    (the record's ``warm_end`` is the monotonic time the warm-up ended); or
    the trace, which warms itself."""
    import trace as tracing

    wl.bind(spark)
    if trace:
        att = Attempts()
        t0 = time.monotonic()
        metrics = att.run(lambda: tracing.run(spark, wl, cores, seed,
                                              trace_runs)) or {}
        record = {"trace_s": time.monotonic() - t0}
    else:
        warm = Attempts()
        record = {"warmup_s": warm.run(lambda: wl.warmup(warm_iterations)),
                  "warm_end": time.monotonic()}
        if warm.failed:
            return {}, {**record, "errors": warm.errors}, warm
        metrics, rec, att = measure(wl, seconds, rss)
        record.update(rec)
        att.attempted += warm.attempted
    record["errors"] = att.errors
    record["fail_ratio"] = att.failed / att.attempted
    return metrics, record, att


def _with_units(metrics: dict, units: dict) -> dict:
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


def main_run(args) -> int:
    import oracle
    import trace as tracing
    from workloads import WORK, WORKLOADS

    cores = pin_box(WORK)
    load_before, steal_before = _loadavg(), _steal_s()
    rss = PeakRss()
    t_gen = time.monotonic()
    n_docs = SIZES[args.workload]
    wl = WORKLOADS[args.workload](
        args.seed, min(n_docs, TRACE_SIZE) if args.trace else n_docs, cores)
    t_session = time.monotonic()
    try:
        spark = start_spark(cores, WORK)
        try:
            box = {"cores": cores, "driver_heap": DRIVER_MEM,
                   "load_before": load_before, **versions(spark)}
            metrics, record, att = run_workload(
                spark, wl, args.seconds, args.trace, args.seed, cores,
                TRACE_RUNS, wl.WARM_ITERATIONS, rss)
        finally:
            stop_spark(spark)
    finally:
        run_peak_mb = rss.stop()
    box["load_after"] = _loadavg()
    box["steal_s"] = _steal_s() - steal_before
    record.update({"workload": args.workload, "seed": args.seed,
                   "docs_per_iteration": wl.docs_per_iteration,
                   "expected": {"violation_keys": sum(wl.want1.keys.values()),
                                "digest": oracle.digest(wl.want1.keys),
                                "failing_pairs": wl.want1.failing_pairs},
                   "gen_and_oracle_s": t_session - t_gen,
                   "run_peak_rss_mb": run_peak_mb, "box": box})
    if args.trace:
        units = tracing.metric_units()
    else:
        units = E2E_UNITS
        if metrics:
            metrics["setup_s"] = ((t_gen - T_START)
                                  + (record.pop("warm_end") - t_session))
    correct = att.failed == 0 and set(metrics) == set(units)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": correct, "attempted": att.attempted,
                      "failed": att.failed,
                      "metrics": _with_units(metrics, units)}))
    return 0 if correct else 1


def main_smoke() -> int:
    """Every workload once at a tiny size, untraced and traced, in one
    session; checks every metric named in BENCHMARK.json is produced."""
    import trace as tracing
    from workloads import WORK, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cores = pin_box(WORK)
    rss = PeakRss()
    spark = start_spark(cores, WORK)
    problems = []
    try:
        for name in (w["name"] for w in spec["workloads"]):
            wl = WORKLOADS[name](1, SMOKE_SIZE, cores)
            for trace, group, units in (
                    (False, "end_to_end", E2E_UNITS),
                    (True, "per_layer", tracing.metric_units())):
                metrics, _, att = run_workload(
                    spark, wl, 0, trace, 1, cores, trace_runs=1,
                    warm_iterations=1, rss=rss)
                if not trace:
                    metrics["setup_s"] = 0.0
                got = _with_units(metrics, units)
                for m in spec[group]:
                    if got.get(m["name"], {}).get("unit") != m["unit"]:
                        problems.append(f"{name}: {m['name']} missing "
                                        f"or not in {m['unit']}")
                problems += [f"{name}: {e}" for e in
                             att.errors if att.failed]
                print(json.dumps({"workload": name, "trace": trace,
                                  "metrics": got}))
    finally:
        stop_spark(spark)
        rss.stop()
    for p in problems:
        print("SMOKE FAIL", p)
    print("SMOKE OK" if not problems else "SMOKE FAILED")
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "run_validation.py")):
        sys.exit("perfbench: run from a checkout of the repository "
                 "(run_validation.py not found)")
    os.chdir(ROOT)
    if args.smoke:
        return main_smoke()
    if not args.workload:
        ap.error("--workload is required")
    return main_run(args)


if __name__ == "__main__":
    sys.exit(main())
