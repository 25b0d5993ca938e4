"""Workload ``ingest_stream``: the production ingest path (``job --stream``).

A seeded WAL streams into an initially empty pages table through
``cdc.stream.run_stream``: default copy-on-write merge, one WAL segment
per micro-batch trigger, the whole backlog present when the timed stream
starts. The first ``WARMUP_SEGMENTS`` segments stream in set-up (JVM,
Python workers and plan code paths get warm on the same table); the
timed part is a second ``run_stream`` on the same checkpoint over the
rest. A trigger pulls the next segment only after the previous commit
finished, so the loop is closed with one client.
"""

from __future__ import annotations

import json
import os
import statistics

from pyspark.sql import functions as F

from clinical_trials_etl_spark.cdc import apply as cdc_apply
from clinical_trials_etl_spark.cdc import stream as cdc_stream
from clinical_trials_etl_spark.cdc.registry import PAGES_REGISTRY
from clinical_trials_etl_spark.cdc.replay import create_pages_table
from clinical_trials_etl_spark.datagen.changelog import (
    LogSpec,
    expected_page_text,
    write_changelog_segments,
)
from clinical_trials_etl_spark.lake.table import LakeTable
from lakebench import lakeio
from lakebench.checks import rows_equal

EVENTS_PER_SEGMENT = 6000
WARMUP_SEGMENTS = 1
# timed segments per requested second: sized so the timed stream lasts
# about --seconds on a 4-core box
SEGMENTS_PER_SECOND = 0.6
HTML_PAD_BLOCKS = 80  # ~2 KB pages


def _move_segments(src: str, dst: str, names: list[str]) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in names:
        os.rename(os.path.join(src, name), os.path.join(dst, name))


def fold_matches(spark, table: LakeTable, wal_dir: str, spec: LogSpec) -> bool:
    """The live table equals a plain-Spark max-LSN fold of the WAL, with
    ``text`` from the generator's own expected-text expression."""
    wal = spark.read.parquet(wal_dir)
    last = wal.groupBy("url").agg(F.max("lsn").alias("lsn"))
    winners = wal.join(last, ["url", "lsn"]).dropDuplicates(["url", "lsn"])
    _html, text = expected_page_text(spec)
    expected = winners.filter(F.col("op") != "D").select(
        "url", "warc_ts", "html", text.alias("text"),
        F.coalesce("language", "lang").alias("language"),
        "fetch_status")
    got = table.read().select(*expected.columns)
    return rows_equal(expected, got, "url")


def run(r) -> dict:
    spark = r.start_spark()
    tr = r.tracer
    n_timed = max(2, round(r.seconds * SEGMENTS_PER_SECOND))
    spec = LogSpec(n_events=EVENTS_PER_SEGMENT * (WARMUP_SEGMENTS + n_timed),
                   seed=r.seed, html_pad_blocks=HTML_PAD_BLOCKS)
    stage, wal = r.path("wal-staged"), r.path("wal")
    with tr.span("datagen.log"):
        write_changelog_segments(spark, spec, stage,
                                 n_segments=WARMUP_SEGMENTS + n_timed)
    segments = sorted((d for d in os.listdir(stage)
                       if d.startswith("segment=")),
                      key=lambda d: int(d.split("=")[1]))
    table = create_pages_table(spark, r.path("table"))
    checkpoint = r.path("checkpoint")
    with tr.span("session.warmup"):
        _move_segments(stage, wal, segments[:WARMUP_SEGMENTS])
        cdc_stream.run_stream(spark, wal, table, checkpoint,
                              max_files_per_trigger=8,
                              registry=PAGES_REGISTRY)
    timed_segments = segments[WARMUP_SEGMENTS:]
    _move_segments(stage, wal, timed_segments)
    wal_bytes = lakeio.tree_bytes([os.path.join(wal, s)
                                   for s in timed_segments])
    v_before = table.current_version()

    undo = []
    if r.trace:
        undo = [tr.wrap(cdc_stream, "apply_batch", "cdc.apply"),
                tr.wrap(cdc_apply, "evolve_for_batch", "cdc.apply.evolve"),
                tr.wrap(LakeTable, "merge", "lake.table.merge")]
    r.begin_timed()
    try:
        with tr.span("cdc.stream.run"):
            progress = cdc_stream.run_stream(
                spark, wal, table, checkpoint, max_files_per_trigger=8,
                registry=PAGES_REGISTRY)
        wall = r.end_timed()
    except Exception as exc:  # noqa: BLE001 — the run reports it
        r.end_timed()
        r.op(False, f"run_stream: {exc!r}")
        raise
    finally:
        for u in undo:
            u()

    epochs = [p for p in progress if p["num_input_rows"] > 0]
    durations = [json.loads(p["duration_ms"]) for p in epochs]
    trigger_s = [d["triggerExecution"] / 1000.0 for d in durations]
    add_batch_s = [d.get("addBatch", 0) / 1000.0 for d in durations]
    events = sum(p["num_input_rows"] for p in epochs)
    for _ in epochs:
        r.op(True, "epoch")
    r.op(len(epochs) == n_timed,
         f"expected {n_timed} epochs, streamed {len(epochs)}")
    with tr.span("check"):
        r.op(fold_matches(spark, table, wal, spec),
             "live table differs from the max-LSN fold of the WAL")

    written = lakeio.files_written(table, v_before)
    write_amp = sum(written.values()) / wal_bytes
    named = {
        "events_per_s": (events / wall, "ev/s"),
        "epoch_s_p50": (statistics.median(trigger_s), "s"),
        "commit_s_p50": (statistics.median(add_batch_s), "s"),
        "write_amp": (write_amp, "ratio"),
    }
    layer = {
        "cdc.stream.epochs": len(epochs),
        "cdc.stream.add_batch_s": sum(add_batch_s),
        "cdc.stream.bookkeeping_s": sum(trigger_s) - sum(add_batch_s),
        "lake.table.bytes_written": sum(written.values()),
        "lake.table.files_written": len(written),
        "lake.table.files_per_bucket": lakeio.files_per_bucket(table),
        "lake.table.touched_bytes_p50": lakeio.touched_bytes_p50(
            table, v_before),
        "lake.table.write_amp": write_amp,
    }
    return {"write_amp": write_amp, "named": named, "layer": layer}
