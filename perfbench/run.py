"""Layered geo-pipeline benchmark.

    python3 perfbench/run.py --workload rectify_swath --seed 1 \\
        --seconds 15 --trace 0

Runs one workload end to end through the package's public functions in a
``local[nproc]`` Spark session started by this process (a closed loop: one
client, runs back to back).  It prints a human-readable report and, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")

#: input sizes; the committed counts in expected.json depend on them
SIZES = {
    "rectify_swath": dict(width=640, height=400, bands=2),
    "reproject_zarr_stack": dict(size=640, target_size=600, dates=5,
                                 chunk=256),
}
SETUP_REPS = 3          # set-ups per invocation; setup_s is their median
#: untimed runs after the checked warm-up run.  One warm-up run leaves the
#: next reprojection run about 1 s (15%) slower than the ones after it;
#: a rectify run is long enough that one warm-up run suffices, and the
#: time budget has no room for another.
EXTRA_WARMUP = {"rectify_swath": 0, "reproject_zarr_stack": 1}
MIN_RUNS = 2            # measured runs, even past --seconds
RUN_TIMEOUT_S = 60.0    # a run still going after this is cancelled
DEADLINE_S = 50.0       # past this (from start), only MIN_RUNS are made
HARD_DEADLINE_S = 100.0  # no run at all starts past this
ORACLE_STRIDE = 4       # the oracle checks every 4th output row and column


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _environment(nproc: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    try:
        rev = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        rev = ""
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "git_rev": rev or "unknown",
    }


class Bench:
    """One invocation: session, set-up, checks, measured runs."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.log_dir = None

    # -------------------------------------------------------------- #
    # session

    def start_session(self, rep: int):
        from pyspark.sql import SparkSession

        n = str(self.nproc)
        tmp = os.path.join(self.work, "tmp")
        b = (SparkSession.builder.master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", n)
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.driver.memory", "3g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(self.work, "local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(self.work, "warehouse"))
             # -XX:-UsePerfData: no hsperfdata file in the system /tmp
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
        if self.args.trace:
            self.log_dir = os.path.join(self.work, f"eventlog{rep}")
            os.makedirs(self.log_dir)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + self.log_dir)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def stop_jvm(timeout: float = 60.0) -> None:
        """Close the gateway JVM's stdin, which makes it exit, and wait
        until it and the Python workers below it have ended."""
        from pyspark import SparkContext

        from procstats import descendants, running

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is None:
            return
        tree = descendants(os.getpid())
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        proc.wait(timeout=timeout)
        end = time.monotonic() + timeout
        while any(running(p) for p in tree) and time.monotonic() < end:
            time.sleep(0.1)

    # -------------------------------------------------------------- #

    def make_workload(self):
        import workloads as W

        cls = {"rectify_swath": W.RectifySwath,
               "reproject_zarr_stack": W.ReprojectZarrStack,
               }[self.args.workload]
        return cls(self.args.seed, **SIZES[self.args.workload])

    def setup(self, reps: int):
        """Set up ``reps`` times (session start + input generation);
        keep the last session and workload."""
        times = []
        wl = None
        for rep in range(reps):
            self.stop_session()
            t0 = time.perf_counter()
            spark = self.start_session(rep)
            wl = self.make_workload()
            wl.setup(spark, os.path.join(self.work, "data"))
            times.append(time.perf_counter() - t0)
        return wl, times

    def check_output(self, wl, expected: dict) -> dict:
        """The once-per-set checks, on one more (warm-up) run: row count,
        finite-pixel count, checksum and the analytic oracle."""
        from checks import oracle_errors, output_stats
        from tracing import NullTracer

        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        df = wl.output_frame(NullTracer()).persist()
        res = output_stats(df)
        # the oracle sees every 16th pixel (every 4th row and column)
        pdf = df.filter((F.col("j") % ORACLE_STRIDE == 0)
                        & (F.col("i") % ORACLE_STRIDE == 0)).toPandas()
        df.unpersist()
        got = pdf["value"].to_numpy(dtype="float64")
        bad, max_err = oracle_errors(got, wl.oracle(pdf))
        res.update({
            "oracle_px": len(pdf),
            "oracle_bad_px": bad,
            "oracle_max_err": max_err,
            "check_s": time.perf_counter() - t0,
        })
        problems = []
        if bad:
            problems.append(f"{bad} px differ from the oracle "
                            f"(max err {max_err:.3g})")
        for key in ("rows", "finite"):
            if expected[key] != res[key]:
                problems.append(f"{key} {res[key]} != committed "
                                f"{expected[key]}")
        want = expected["checksums"].get(str(self.args.seed))
        if want is not None and want != res["checksum"]:
            problems.append(f"checksum {res['checksum']} != committed "
                            f"{want}")
        res["checksum_committed"] = want is not None
        res["problems"] = problems
        return res

    def timed_run(self, wl, tracer, expected_count):
        """One pipeline run; returns (ok, wall s, tree cpu s, error)."""
        from procstats import tree_cpu_s

        sc = self.spark.sparkContext
        timer = threading.Timer(RUN_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        err = None
        try:
            val = wl.run(tracer)
            if val != expected_count:
                err = f"count {val} != committed {expected_count}"
        except Exception:  # any failure of the program is a failed run
            err = traceback.format_exc(limit=3)
        finally:
            timer.cancel()
        t1, c1 = time.perf_counter(), tree_cpu_s()
        return err is None, t1 - t0, c1 - c0, err


def _load_expected(workload: str) -> dict:
    """The committed row, finite-pixel and per-run counts, and the
    checksums of seeds 1 and 2."""
    with open(EXPECTED) as f:
        return json.load(f)[workload]


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the package under test; without it there is nothing to measure
    import xcube_resampling_spark  # noqa: F401
    import procstats
    from tracing import NullTracer

    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])

    expected = _load_expected(args.workload)

    def stop(runs: int, min_runs: int, t0: float) -> bool:
        return _done(runs, min_runs, t0, args.seconds, t_start)

    bench = Bench(args, work)
    env = _environment(bench.nproc)
    steal0 = procstats.cpu_times()
    try:
        wl, setup_times = bench.setup(1 if args.trace else SETUP_REPS)
        t0 = time.perf_counter()
        try:
            check = bench.check_output(wl, expected)
        except Exception:  # the program failed; the runs still count
            check = {"problems": [traceback.format_exc(limit=3)]}
        expected_count = expected["run_count"]
        for _ in range(EXTRA_WARMUP[args.workload]):
            ok, _, _, err = bench.timed_run(wl, NullTracer(), expected_count)
            if not ok:
                check["problems"].append("warm-up run: " + err)
        warm_s = time.perf_counter() - t0
        if args.trace:
            import layers

            result = layers.traced(bench, wl, expected_count, stop)
        else:
            result = measure(bench, wl, expected_count, stop)
    finally:
        bench.stop_session()
        bench.stop_jvm()
    steal = procstats.steal_share(steal0, procstats.cpu_times())

    failed = result["failed"] + (1 if check["problems"] else 0)
    attempted = result["attempted"] + 1
    env["steal_share"] = round(steal, 4)
    report = {
        "workload": args.workload, "seed": args.seed,
        "sizes": SIZES[args.workload], "output_px": wl.output_px,
        "environment": env, "check": check,
        "setup_times_s": setup_times, "warmup_and_check_s": warm_s,
        "failed_frac": failed / attempted,
        **result["report"],
    }
    print(json.dumps(report, indent=1, default=str))
    print(result["table"])
    metrics = result["metrics"]
    if not args.trace:
        metrics["setup_s"] = {"value": _median(setup_times), "unit": "s"}
    print(f"failed_frac: {failed / attempted:.4f} 1 "
          f"({failed} of {attempted} runs)")
    for k, v in metrics.items():
        print(f"{k}: {v['value']:.6g} {v['unit']}")
    for p in check["problems"]:
        print("CHECK FAILED:", p)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _done(runs: int, min_runs: int, t0: float, seconds: float,
          t_start: float) -> bool:
    """Stop after ``seconds`` of runs, or early once the invocation is
    DEADLINE_S old; either way only after ``min_runs`` runs, unless it
    is HARD_DEADLINE_S old."""
    now = time.perf_counter()
    if now - t_start >= HARD_DEADLINE_S:
        return True
    return runs >= min_runs and (now - t0 >= seconds
                                 or now - t_start >= DEADLINE_S)


def measure(bench, wl, expected_count, stop) -> dict:
    """Measured runs back to back, tracing off."""
    from procstats import WorkerRssMonitor
    from tracing import NullTracer

    tracer = NullTracer()
    runs, errors = [], []
    rss = WorkerRssMonitor().start()
    t0 = time.perf_counter()
    while True:
        ok, wall, cpu, err = bench.timed_run(wl, tracer, expected_count)
        runs.append((ok, wall, cpu))
        if err:
            errors.append(err)
            print("RUN FAILED:", err, file=sys.stderr)
        if stop(len(runs), MIN_RUNS, t0):
            break
    peak_mb = rss.stop()
    good = [r for r in runs if r[0]] or runs
    run_s = _median([r[1] for r in good])
    metrics = {
        "run_s": {"value": run_s, "unit": "s"},
        "mpx_per_s": {"value": wl.output_px / 1e6 / run_s, "unit": "Mpx/s"},
        "cpu_s": {"value": _median([r[2] for r in good]), "unit": "s"},
        "peak_worker_rss_mb": {"value": peak_mb, "unit": "MB"},
    }
    table = "run  ok  wall_s  cpu_s\n" + "\n".join(
        f"{k:3d}  {int(ok):2d}  {w:6.3f}  {c:6.2f}"
        for k, (ok, w, c) in enumerate(runs))
    return {
        "metrics": metrics,
        "attempted": len(runs),
        "failed": sum(1 for r in runs if not r[0]),
        "report": {"runs": [{"ok": ok, "wall_s": w, "cpu_s": c}
                            for ok, w, c in runs], "errors": errors},
        "table": table,
    }


if __name__ == "__main__":
    sys.exit(main())
