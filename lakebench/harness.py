"""Measurement plumbing shared by the workloads: spans, process-tree
memory and CPU, the contention canary, percentiles, and the Spark reports a
traced run reads (event log, Python UDF profiler).

Nothing here imports the engine, so the module loads (and its tests run)
without a Spark session.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import pstats
import statistics
import subprocess
import sys
import threading
import time

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, the "percentile" is one or two outliers.
MIN_SAMPLES_BEYOND_TAIL = 10


def tail_percentile(samples: list[float], pct: float) -> float:
    """The ``pct`` percentile of ``samples``, refused (ValueError) when
    fewer than MIN_SAMPLES_BEYOND_TAIL samples lie beyond it: a p95
    needs at least 200 samples."""
    beyond = len(samples) * (100.0 - pct) / 100.0
    if beyond < MIN_SAMPLES_BEYOND_TAIL:
        raise ValueError(
            f"p{pct:g} needs {MIN_SAMPLES_BEYOND_TAIL} samples beyond it; "
            f"{len(samples)} samples leave {beyond:.1f}")
    ordered = sorted(samples)
    return ordered[min(len(ordered) - 1, int(len(ordered) * pct / 100.0))]


# ------------------------------------------------------------------ spans


class Tracer:
    """Sequential spans in wall-clock seconds (``time.time``, the clock
    Spark stamps its event log with). One closed-loop client issues the
    calls, so spans never overlap except by nesting; a thread-local stack
    records each span's parent (stream epochs run on a py4j callback
    thread)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block; it may add attributes to the yielded record."""
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": stack[-1]["name"] if stack else None}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a version that records a span per
        call; returns an undo callable."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, original)


# ------------------------------------------------- memory and contention


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:
            continue  # process exited between listing and reading
        # the command name may hold spaces: the ppid follows its ')'
        fields = raw[raw.rfind(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(
            int(path.split("/")[2]))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the driver
    JVM and the Python workers it forks)."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


# HotSpot's service threads (names truncated by the kernel): the JIT
# compilers and the code-cache sweeper, and the garbage collector's
# workers. Their work falls due on code-cache and heap thresholds, which
# land inside or outside a timed region from run to run: in a
# minute-long process the JIT burns ~40% of all CPU as warm-up, and one
# G1 cycle more or less moved a run's timed CPU by 0.3 to 5.6 s.
SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread",
                   "GC Thread", "G1 ")


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        raw = f.read()
    return raw[raw.index("(") + 1:raw.rfind(")")], raw[raw.rfind(")") + 2:].split()


class TreeMonitor:
    """Watches this process and its descendants (the driver JVM and the
    Python workers it forks) from a daemon thread until stopped: peak
    resident memory, and the CPU seconds the JVM's service threads used,
    so ``cpu_seconds`` can leave them out."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.root = os.getpid()
        # descendants left out of the CPU count (the speed probe)
        self.exclude: set[int] = set()
        self.interval_s = interval_s
        self.peak = 0
        self._service_ticks: dict[tuple[int, int], int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample_service(self, pids: list[int]) -> None:
        for pid in pids:
            try:
                name, _ = _stat(f"/proc/{pid}/stat")
                if name != "java":
                    continue
                for tid in os.listdir(f"/proc/{pid}/task"):
                    tname, f = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if tname.startswith(SERVICE_THREADS):
                        self._service_ticks[(pid, int(tid))] = (
                            int(f[11]) + int(f[12]))
            except OSError:
                continue  # exited while being read

    def cpu_seconds(self) -> float:
        """CPU seconds (user + system, reaped children included) the tree
        has used so far, without the JVM's service threads."""
        with self._lock:
            pids = [self.root, *descendants(self.root)]
            self._sample_service(pids)
            ticks = 0
            for pid in pids:
                if pid in self.exclude:
                    continue
                try:
                    ticks += sum(int(x) for x in
                                 _stat(f"/proc/{pid}/stat")[1][11:15])
                except OSError:
                    continue
            ticks -= sum(self._service_ticks.values())
        return ticks / os.sysconf("SC_CLK_TCK")

    def _run(self) -> None:
        while not self._stop.is_set():
            with self._lock:
                self.peak = max(self.peak, tree_rss_bytes(self.root))
                self._sample_service([self.root, *descendants(self.root)])
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# The speed probe: a child process that times a fixed pure-Python loop
# in its own CPU seconds every PROBE_INTERVAL_S until its stdin closes.
# On a shared host the same instructions cost more CPU time when
# neighbours are busy (the vCPU loses cache and core to them, and time
# the host takes away is still charged to the thread), by up to 2x and
# for tens of seconds at a time; the probe's loop time over a region
# measures that slowdown.
PROBE_LOOP = 50_000
PROBE_INTERVAL_S = 0.05
# a little under the least CPU time the probe loop took on the 4-core
# box this benchmark was built on (2.1 ms); it only sets the scale
PROBE_REFERENCE_S = 0.002
_PROBE_SRC = f"""
import select, sys, time
def loop():
    t, a = time.thread_time(), 0
    for i in range({PROBE_LOOP}):
        a += i & 7
    return time.thread_time() - t
while not select.select([sys.stdin], [], [], {PROBE_INTERVAL_S})[0]:
    print(time.time(), loop(), flush=True)
"""


class SpeedProbe:
    """Runs the speed probe from construction until ``stop``; it writes
    one ``<wall time> <loop CPU seconds>`` line per sample to
    ``out_path``."""

    def __init__(self, out_path: str) -> None:
        self.out_path = out_path
        self.samples: list[tuple[float, float]] = []
        with open(out_path, "w") as out:
            self.proc = subprocess.Popen(
                [sys.executable, "-c", _PROBE_SRC], stdin=subprocess.PIPE,
                stdout=out)

    def stop(self) -> None:
        """End the probe (stdin EOF), wait for it, keep its samples."""
        if self.proc.returncode is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        with open(self.out_path) as f:
            self.samples = [(float(t), float(d)) for t, d in
                            (line.split() for line in f)]

    def slowdown(self, start: float, end: float) -> float:
        """Mean probe loop time over the wall-clock interval, as a
        multiple of PROBE_REFERENCE_S."""
        inside = [d for t, d in self.samples if start <= t <= end]
        if not inside:
            raise ValueError("no speed-probe sample in the interval")
        return statistics.fmean(inside) / PROBE_REFERENCE_S


def spin_canary(n: int = 2_000_000) -> float:
    """Seconds a fixed pure-Python loop takes: a reading well above the
    box's usual value marks a run that shared its cores."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i & 7
    return time.perf_counter() - t


# ----------------------------------------------------------- Spark reports


def read_event_log(log_dir: str) -> dict:
    """Jobs (submission/completion wall time, stage ids, properties) and
    per-stage task totals from the Spark event log files in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write": 0, "spill": 0, "records_read": 0})

    for path in sorted(glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                        "props": ev.get("Properties") or {}}
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    s = stage(ev["Stage ID"])
                    s["tasks"] += 1
                    s["run_ms"] += m.get("Executor Run Time", 0)
                    s["cpu_ns"] += m.get("Executor CPU Time", 0)
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    s["shuffle_write"] += (m.get("Shuffle Write Metrics")
                                           or {}).get(
                        "Shuffle Bytes Written", 0)
                    s["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                    s["records_read"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0)
    return {"jobs": jobs, "stages": stages}


def jobs_in(log: dict, spans: list[dict]) -> list[int]:
    """Ids of the jobs submitted inside any of ``spans``."""
    return [jid for jid, j in log["jobs"].items()
            if any(s["start"] <= j["submit"] <= s["end"] for s in spans)]


def stage_total(log: dict, job_ids: list[int], key: str) -> int:
    sids = {sid for jid in job_ids for sid in log["jobs"][jid]["stages"]}
    return sum(log["stages"][sid][key] for sid in sids
               if sid in log["stages"])


def udf_profile_seconds(dump_dir: str, marker: str) -> tuple[float, float]:
    """(seconds in UDFs whose profile mentions ``marker`` in a source file
    path, seconds in all profiled UDFs) from the perf profiles PySpark's
    UDF profiler dumped into ``dump_dir``."""
    marked = every = 0.0
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path)
        every += st.total_tt
        if any(marker in fn[0] for fn in st.stats):
            marked += st.total_tt
    return marked, every


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}})
