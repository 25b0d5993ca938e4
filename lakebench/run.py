"""lakebench: the engine's end-to-end and per-layer benchmark.

    python3 lakebench/run.py --workload ingest_stream --seed 1 \
        --seconds 10 --trace 0

Runs one workload (``ingest_stream`` or ``lake_mixed``, see NOTES.md)
against the engine's public API on ``local[nproc]`` from one driver
process with one closed-loop client, checks its outputs, and prints:

- ``metric <name> <value> <unit>`` lines: the workload's named metrics;
- one ``run_meta {...}`` line: cores, master, spin-canary reading;
- as the last line, one JSON object ``{"correct", "attempted",
  "failed", "metrics"}``: with ``--trace 0`` the end-to-end metrics of
  BENCHMARK.json, with ``--trace 1`` its per-layer metrics, read from
  spans around the public calls, the Spark event log, the PySpark UDF
  profiler, stream progress and the lake's metadata.

Exits 1 when a correctness check fails, and without a result line when
the engine cannot be imported or a workload raises.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_stream", "lake_mixed")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def trace_layers(r, log: dict, udf: tuple[float, float]) -> dict:
    """Per-layer metrics every workload shares: spans inside the timed
    region, attributed Spark jobs, and profiled UDF time."""
    from lakebench import harness

    tr = r.tracer
    spans = [s for s in tr.spans
             if s["start"] >= r.timed_start and s["end"] <= r.timed_end]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def busy(name):
        return sum(s["end"] - s["start"] for s in named(name))

    def jobs(name):
        return harness.jobs_in(log, named(name))

    def per(n, d):
        return n / d if d else 0.0

    applies, merges = named("cdc.apply"), named("lake.table.merge")
    merge_jobs = jobs("lake.table.merge")
    nested_merge_s = sum(s["end"] - s["start"] for s in merges
                         if s["parent"] == "cdc.apply")
    out = {
        "session.start_s": tr.total("session.start"),
        "session.warmup_s": tr.total("session.warmup"),
        "datagen.log_s": tr.total("datagen.log"),
        "datagen.tables_s": tr.total("datagen.tables"),
        "lake.base_load_s": tr.total("lake.base_load"),
        "cdc.apply.calls": len(applies),
        "cdc.apply.busy_s": busy("cdc.apply"),
        "cdc.apply.evolve_s": busy("cdc.apply.evolve"),
        "cdc.apply.self_s": (busy("cdc.apply") - nested_merge_s
                             - busy("cdc.apply.evolve")),
        "cdc.apply.jobs_per_call": per(len(jobs("cdc.apply")), len(applies)),
        "lake.table.merge_calls": len(merges),
        "lake.table.merge_s": busy("lake.table.merge"),
        "lake.table.jobs_per_merge": per(len(merge_jobs), len(merges)),
        "lake.table.shuffle_bytes_per_merge": per(
            harness.stage_total(log, merge_jobs, "shuffle_write"),
            len(merges)),
        "lake.table.correction_jobs": len(jobs("lake.table.correction")),
        "functions.html_extract.busy_s": udf[0],
        "functions.python_udf_busy_s": udf[1],
    }
    for span_name, metric, rows_key in (
            ("lake.table.lookup", "lake.table.lookup_records_read_per_hit",
             "rows"),
            ("lake.table.range_read",
             "lake.table.range_records_read_per_row", "rows")):
        read = harness.stage_total(log, jobs(span_name), "records_read")
        out[metric] = per(read, sum(s.get(rows_key, 0)
                                    for s in named(span_name)))
    out.update(r.spark_layer(log))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    sys.path.insert(0, ROOT)
    from lakebench import common, harness

    r = common.Run(ROOT, args.seed, args.seconds, bool(args.trace),
                   PROCESS_START)
    try:
        # importing a workload imports the engine: without it, the run
        # fails here, before any output
        workload = importlib.import_module(f"lakebench.{args.workload}")
        with r.monitor:
            out = workload.run(r)
            log, udf = r.stop_spark()
    finally:
        r.close()
    canary_s = harness.spin_canary()

    setup_slowdown = r.probe.slowdown(0.0, r.timed_start)
    slowdown = r.probe.slowdown(r.timed_start, r.timed_end)
    e2e = {"setup_s": r.setup_cpu_s / setup_slowdown,
           "cpu_ref_s": r.timed_cpu_s / slowdown,
           "write_amp": out["write_amp"]}
    named = dict(out["named"], setup_wall_s=(r.setup_wall_s, "s"),
                 setup_cpu_s=(r.setup_cpu_s, "s"),
                 setup_probe_slowdown=(setup_slowdown, "ratio"),
                 setup_s=(e2e["setup_s"], "s"),
                 timed_wall_s=(r.timed_s, "s"),
                 timed_cpu_s=(r.timed_cpu_s, "s"),
                 probe_slowdown=(slowdown, "ratio"),
                 cpu_ref_s=(e2e["cpu_ref_s"], "s"),
                 peak_rss_mb=(r.monitor.peak_mb, "MB"),
                 failed_op_share=(r.failed / r.attempted, "ratio"))
    for name, (value, unit) in named.items():
        print(f"metric {name} {value!r} {unit}")
    for err in r.errors:
        print(f"failed_op {err}")
    print("run_meta " + json.dumps({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": r.cores,
        "master": f"local[{r.cores}]", "spin_canary_s": canary_s,
        "phases_s": {"setup": r.setup_wall_s, "timed": r.timed_s,
                     "check": r.tracer.total("check"),
                     "stop": r.tracer.total("session.stop"),
                     "after": time.perf_counter() - PROCESS_START
                     - r.setup_wall_s - r.timed_s}}))

    if args.trace:
        layer = dict(out["layer"], **trace_layers(r, log, udf))
        layer.update({f"trace.{k}": v for k, v in e2e.items()})
        layer["session.peak_rss_mb"] = r.monitor.peak_mb
        metrics = {m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"])
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (float(e2e[m["name"]]), m["unit"])
                   for m in spec["end_to_end"]}
    correct = r.failed == 0
    print(harness.result_line(correct, r.attempted, r.failed, metrics),
          flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
