"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog_nightly --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. It generates the workload's inputs
from the seed into ``.perfbench_work/``, starts a Spark session on
``local[<cores>]``, warms up, then runs the job in a closed loop with one
client for ``--seconds`` seconds, checking the output of every pass. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "items_per_s": "items/s",
    "python_rss_mb": "MB",
    "live_heap_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.build_s": "s",
    "session.first_job_s": "s",
    "pipeline.table_s": "s",
    "pipeline.jobs_per_table": "count",
    "pipeline.stages_per_table": "count",
    "catalog.scan_s": "s",
    "catalog.write_table_s": "s",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    "relational.unpivot_s": "s",
    "relational.pivot_wide_s": "s",
    "forecast.transform_long_s": "s",
    "forecast.fit_tasks": "count",
    "forecast.series_per_task": "count",
    "forecast.kernel_share": "ratio",
    "forecast.worker_rss_mb": "MB",
    "model.fit_predict_ms_per_series": "ms",
    "text.quality_score_s": "s",
    "dedup.exact_s": "s",
    "dedup.signatures_s": "s",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.candidates": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "runtime_cache.entries_built": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "trace.overhead_pct": "%",
}

MIN_TIMED_PASSES = 3
HEAP = "4g"  # the JVM's initial and maximum heap
WORKER_MARKER = "pyspark.daemon"  # command line of PySpark's Python workers


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(workdir: str) -> dict:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``workdir``; return the extra Spark settings that need."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # local[<cores>] over the cores this process may run on
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a pinned heap keeps the JVM's footprint the same from run to run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the heap fixed at its maximum, so that the forced collections of
        # the heap reading do not shrink it; identity hash codes from a
        # counter rather than a per-process random stream (see README.md,
        # "Warm-up, and per-process randomness")
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+UnlockExperimentalVMOptions -XX:hashCode=3",
    }


def median(values):
    return statistics.median(values) if values else 0.0


class Run:
    """One process: set-up, warm-up, then the timed window, or with
    ``--trace 1`` a window of alternating untraced and traced passes."""

    def __init__(self, workload, args, workdir: str):
        self.wl, self.args, self.workdir = workload, args, workdir
        self.attempted = 0
        self.failed = 0
        self.worker_rss = 0.0
        self.pass_times: list[float] = []

    def one_pass(self, tracer):
        """Run and check one pass; return (wall time, result), with time
        None if the pass raised or its output was wrong."""
        from procmem import peak_rss_mb

        self.attempted += 1
        try:
            t0 = time.perf_counter()
            result = self.wl.run_pass(tracer)
            elapsed = time.perf_counter() - t0
            self.pass_times.append(elapsed)
            errs = self.wl.check(result)
        except Exception:  # a failed pass is counted, and the loop goes on
            traceback.print_exc()
            self.failed += 1
            return None, None
        self.worker_rss = max(self.worker_rss, peak_rss_mb(os.getpid(), WORKER_MARKER))
        if errs:
            print(f"pass {self.attempted} wrong: {errs[:5]}", file=sys.stderr)
            self.failed += 1
            return None, result
        return elapsed, result

    def window(self, tracers: list, seconds: float, min_passes: int):
        """Closed loop: passes back to back, taking turns over ``tracers``,
        until ``seconds`` have gone and each tracer has ``min_passes``.
        Returns each tracer's pass times and the traced passes' counts."""
        times: list[list[float]] = [[] for _ in tracers]
        counts = []
        end = time.perf_counter() + seconds
        turn = 0
        while time.perf_counter() < end or min(map(len, times)) < min_passes:
            k, turn = turn % len(tracers), turn + 1
            tracer = tracers[k]
            tracer.begin_pass()
            elapsed, result = self.one_pass(tracer)
            tracer.end_pass(ok=elapsed is not None)
            if elapsed is None:
                if self.failed > 2 * min_passes:
                    break
                continue
            times[k].append(elapsed)
            if tracer.enabled:
                # read what a traced pass wrote while its output is still there
                counts.append(self.wl.layer_counts(result))
        return times, counts

    def execute(self):
        from procmem import peak_rss_mb
        from spans import NullTracer

        extra_conf = configure_env(self.workdir)
        events = os.path.join(self.workdir, "events")
        if self.args.trace:
            os.makedirs(events)
            extra_conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": events,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        import clickhouse_forecasting_spark  # noqa: F401  (absent: ImportError)

        # set-up time excludes making the inputs
        t_gen = time.perf_counter()
        truth = self.wl.generate(self.args.seed)
        t_gen = time.perf_counter() - t_gen

        from clickhouse_forecasting_spark.session import build_session

        t0 = time.perf_counter()
        spark = build_session("perfbench", extra_conf=extra_conf)
        t1 = time.perf_counter()
        spark.range(1).count()
        t2 = time.perf_counter()
        self.setup = {"setup_s": t2 - T_START - t_gen, "session.build_s": t1 - t0, "session.first_job_s": t2 - t1}
        self.spark = spark
        self.spark_cores = spark.sparkContext.defaultParallelism
        try:
            self.wl.setup(spark, truth)
            null = NullTracer()
            first, _ = self.one_pass(null)
            for _ in range(self.wl.warmup_passes):
                self.one_pass(null)
            self.first_pass_s = first
            # after a fixed number of passes: the heap retains a little per
            # pass, and the window's pass count follows the machine's speed
            self.live_heap_mb, self.heap_readings = live_heap_mb(spark)
            # the first pass over the timed input, and after the collections,
            # runs slower than the ones after it; it is not timed
            self.wl.start_timing()
            self.one_pass(null)
            self.warmup_times = self.pass_times[:]
            if self.args.trace:
                self.traced_window()
            else:
                (self.timed,), _ = self.window([null], self.args.seconds, MIN_TIMED_PASSES)
            self.pass_s = median(self.timed)
            self.jvm_rss_mb = peak_rss_mb(os.getpid(), "java")
        finally:
            stop_spark(spark)
        if self.args.trace:
            from spans import EventLog

            self.events = EventLog.read_dir(events)

    def traced_window(self):
        """Untraced and traced passes take turns for ``--seconds``, so both
        sit at the same point of the JVM's warm-up; the ratio of their
        medians is the tracing overhead."""
        from spans import NullTracer, Tracer

        tracer = Tracer(self.spark.sparkContext)
        self.wl.trace_wrappers(tracer)
        (self.timed, self.traced_times), self.traced_counts = self.window(
            [NullTracer(), tracer], self.args.seconds, 2
        )
        self.tracer = tracer
        self.model_ms = self.wl.model_ms_per_series()

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup["setup_s"],
            "pass_s": self.pass_s,
            "items_per_s": self.wl.items / self.pass_s if self.pass_s else 0.0,
            "python_rss_mb": driver_rss_mb() + self.worker_rss,
            "live_heap_mb": self.live_heap_mb,
        }

    def per_layer(self) -> dict:
        from spans import EventLog, median_span

        tr, ev = self.tracer, self.events
        out = {k: 0.0 for k in PER_LAYER_UNITS}
        out["session.build_s"] = self.setup["session.build_s"]
        out["session.first_job_s"] = self.setup["session.first_job_s"]
        for name in PER_LAYER_UNITS:
            if name.endswith("_s") and any(name in p for p in tr.passes):
                out[name] = median_span(tr.passes, name)
        counts = self.traced_counts
        for name in counts[0] if counts else ():
            out[name] = median([c[name] for c in counts])

        def per_pass(counter):
            return median([EventLog.total(counter, p) for p in tr.labels])

        tables = self.wl.tables_per_pass
        if tables:
            # the tables of a pass run one after another and are alike; the
            # untraced passes give the time, without the probes
            out["pipeline.table_s"] = self.pass_s / tables
            out["pipeline.jobs_per_table"] = per_pass(ev.jobs) / tables
            out["pipeline.stages_per_table"] = per_pass(ev.stages) / tables
        fit_tasks = per_pass(ev.python_tasks)
        fits = self.wl.fits_per_pass
        fit_s = out["forecast.transform_long_s"]
        out["forecast.fit_tasks"] = fit_tasks
        out["forecast.series_per_task"] = fits / fit_tasks if fit_tasks else 0.0
        out["model.fit_predict_ms_per_series"] = self.model_ms
        out["forecast.worker_rss_mb"] = self.worker_rss
        out["forecast.kernel_share"] = self.model_ms / 1000.0 * fits / (self.spark_cores * fit_s) if fit_s else 0.0
        if out["dedup.candidates"]:
            out["dedup.verify_yield"] = out["dedup.verified_pairs"] / out["dedup.candidates"]
        out["spark.jobs"] = per_pass(ev.jobs)
        out["spark.tasks"] = per_pass(ev.tasks)
        out["spark.shuffle_write_mb"] = per_pass(ev.shuffle_write) / 2**20
        out["spark.spill_mb"] = per_pass(ev.spill) / 2**20
        out["spark.gc_s"] = per_pass(ev.gc_ms) / 1000.0
        out["spark.executor_cpu_s"] = per_pass(ev.cpu_ns) / 1e9
        traced_pass_s = median(self.traced_times)
        out["trace.overhead_pct"] = (traced_pass_s / self.pass_s - 1.0) * 100.0 if self.pass_s else 0.0
        return out

    def info(self) -> dict:
        return {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "first_pass_s": self.first_pass_s,
            "jvm_peak_rss_mb": self.jvm_rss_mb,
            "live_heap_readings_mb": self.heap_readings,
            "driver_rss_mb": driver_rss_mb(),
            "warmup_pass_s": self.warmup_times,
            "timed_pass_s": self.timed,
            "traced_passes": len(self.traced_times) if self.args.trace else 0,
            "warmup_passes": 2 + self.wl.warmup_passes,
        }


def live_heap_mb(spark) -> tuple[float, list[float]]:
    """JVM heap in use after forced full garbage collections: the smallest
    of the readings after the second, third and fourth of four collections
    half a second apart, and all four readings. Python's collector runs
    first so that JVM objects only Python referred to are released; the
    pauses let Spark's cleaner drop the shuffle, broadcast and cache state
    a collection freed, which the first reading still holds."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings = []
    for i in range(4):
        if i:
            time.sleep(0.5)
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    return min(readings[1:]), readings


def driver_rss_mb() -> float:
    from procmem import vmhwm_mb

    return vmhwm_mb(os.getpid())


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    from procmem import alive, descendants

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    )


def parse_result(output: str) -> dict:
    """The result object from a run's standard output (its last line)."""
    last = output.strip().splitlines()[-1]
    res = json.loads(last)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(res)}")
    return res


def main(argv=None) -> int:
    args = parse_args(argv)
    if argv is None and os.environ.get("PYTHONHASHSEED") != "0":
        # the same string hashing in every run, in this process and the
        # Python workers it starts
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    run = Run(WORKLOADS[args.workload](workdir), args, workdir)
    try:
        run.execute()
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run's directory is still there
    if args.trace:
        metrics, units = run.per_layer(), PER_LAYER_UNITS
    else:
        metrics, units = run.end_to_end(), END_TO_END_UNITS
    print(json.dumps({"info": run.info()}))
    correct = run.failed == 0 and run.attempted > 0
    print(result_line(correct, run.attempted, run.failed, metrics, units))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
