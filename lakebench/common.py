"""One benchmark run: its scratch directory, the Spark session, and the
traced-run reports that are only readable after the session stops."""

from __future__ import annotations

import os
import shutil
import time

from lakebench import harness


class Run:
    """State of one ``run.py`` invocation, passed to the workload."""

    def __init__(self, root: str, seed: int, seconds: int, trace: bool,
                 process_start: float):
        self.process_start = process_start
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = harness.Tracer()
        self.monitor = harness.TreeMonitor()
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(root, ".lakebench_work", f"run-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "eventlog", "profiles", "spark-local"):
            os.makedirs(os.path.join(self.work, sub))
        # the engine zips itself for the workers under tempfile's
        # directory, and Spark spills under its local dirs: both stay
        # inside the checkout
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        import tempfile

        tempfile.tempdir = self.path("tmp")
        self.probe = harness.SpeedProbe(self.path("probe.txt"))
        self.monitor.exclude.add(self.probe.proc.pid)
        self.spark = None
        self.timed_start = None
        self.timed_end = None
        self.timed_s = None
        self.timed_cpu_s = None
        self.setup_wall_s = None
        self.setup_cpu_s = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from clinical_trials_etl_spark.session import get_spark

        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                # one plain JSON-lines file the harness parses
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.sql.pyspark.udf.profiler": "perf",
            })
        with self.tracer.span("session.start"):
            self.spark = get_spark(cores=self.cores, extra_conf=conf)
        return self.spark

    def begin_timed(self) -> None:
        if self.trace:
            # profile the timed region only
            self.spark.profile.clear(type="perf")
        self.setup_wall_s = time.perf_counter() - self.process_start
        self.setup_cpu_s = self.monitor.cpu_seconds()
        self.timed_start = time.time()

    def end_timed(self) -> float:
        self.timed_end = time.time()
        self.timed_s = self.timed_end - self.timed_start
        self.timed_cpu_s = self.monitor.cpu_seconds() - self.setup_cpu_s
        return self.timed_s

    def op(self, ok: bool, what: str) -> None:
        """Count one attempted operation; record it failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def stop_spark(self) -> tuple[dict | None, tuple[float, float]]:
        """Stop the session; in a traced run return the parsed event log
        and the (html kernel, all UDF) profiled Python seconds."""
        log, udf = None, (0.0, 0.0)
        if self.spark is not None:
            with self.tracer.span("session.stop"):
                if self.trace:
                    self.spark.profile.dump(self.path("profiles"),
                                            type="perf")
                self.spark.stop()
                self.spark = None
        if self.trace:
            log = harness.read_event_log(self.path("eventlog"))
            udf = harness.udf_profile_seconds(self.path("profiles"),
                                              "html_extract")
        return log, udf

    def spark_layer(self, log: dict) -> dict[str, float]:
        """Engine-wide counts over the timed region (``spark.*``)."""
        timed = [{"start": self.timed_start, "end": self.timed_end}]
        jobs = harness.jobs_in(log, timed)
        run_s = harness.stage_total(log, jobs, "run_ms") / 1000.0
        wall = self.timed_end - self.timed_start
        n_stages = len({s for j in jobs for s in log["jobs"][j]["stages"]
                        if s in log["stages"]})
        return {
            "spark.jobs": len(jobs),
            "spark.stages": n_stages,
            "spark.tasks": harness.stage_total(log, jobs, "tasks"),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s":
                harness.stage_total(log, jobs, "cpu_ns") / 1e9,
            "spark.jvm_gc_s": harness.stage_total(log, jobs, "gc_ms") / 1000.0,
            "spark.shuffle_write_bytes":
                harness.stage_total(log, jobs, "shuffle_write"),
            "spark.spill_bytes": harness.stage_total(log, jobs, "spill"),
            "spark.slot_idle_share": 1.0 - run_s / (wall * self.cores),
        }

    def close(self) -> None:
        """Stop a session a failed workload left running, then the JVM
        (and with it the Python workers), waiting until it exited;
        stop the speed probe; remove the scratch directory."""
        try:
            self._stop_jvm()
        finally:
            self.probe.stop()
            shutil.rmtree(self.work, ignore_errors=True)
            parent = os.path.dirname(self.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    def _stop_jvm(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            workers = harness.descendants(gateway.proc.pid)
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on EOF
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
            deadline = time.time() + 30
            while (time.time() < deadline and any(
                    os.path.exists(f"/proc/{pid}") for pid in workers)):
                time.sleep(0.1)
