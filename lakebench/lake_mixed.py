"""Workload ``lake_mixed``: small writes beside reads, fan-out and queries.

Set-up loads a base pages table from a seeded WAL (one copy-on-write
replay commit, which leaves one file per bucket), creates an empty
replica that catches up from the table's envelope topic, generates the
star-schema tables the registered queries read, and runs each query of
the set once, checking its result against its DuckDB oracle.

The timed part is a closed loop of rounds, one client. Each round:

- one small ``apply_batch(merge_mode="delta")`` drip commit;
- ``LOOKUPS_PER_ROUND`` ``LakeTable.lookup`` calls, ``MISS_SHARE`` of
  them for keys that were never written;
- one ``read(between=("warc_ts", lo, hi))`` window plus count;
- ``QUERIES_PER_ROUND`` registered queries (one per registry, cycling in
  a seeded order), each forced with a noop write;
- one envelope publish;
- in every ``CORRECT_EVERY``-th round from the first, an ``update_where``
  or ``delete_where`` correction (alternating), so later drips pass the
  correction-fence guard;
- in the last round a ``compact()``, then the replica consumes every
  window published in the run in one ``apply_envelopes`` call: a
  consumer lagging by the whole run.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import random
import statistics

from pyspark.sql import functions as F

import __spark_entry__
from clinical_trials_etl_spark.cdc import apply as cdc_apply
from clinical_trials_etl_spark.cdc import envelope
from clinical_trials_etl_spark.cdc.apply import apply_batch
from clinical_trials_etl_spark.cdc.registry import PAGES_REGISTRY
from clinical_trials_etl_spark.cdc.replay import create_pages_table, replay
from clinical_trials_etl_spark.cdc.stream import TRANSPORT_SCHEMA
from clinical_trials_etl_spark.datagen.changelog import (
    BASE_TS,
    LogSpec,
    changelog_df,
    write_changelog_segments,
)
from clinical_trials_etl_spark.lake.table import LakeTable
from lakebench import harness, lakeio, tables
from lakebench.checks import rows_equal

BASE_EVENTS = 6000
BASE_SEGMENTS = 1
DRIP_EVENTS = 300
# drip logs start this far apart in LSN space, so no drip event can land
# on the fence LSN a correction stamped just above the previous drip
DRIP_LSN_STRIDE = 10_000
HTML_PAD_BLOCKS = 80
LOOKUPS_PER_ROUND = 10
MISS_SHARE = 0.2
RANGE_WINDOW_S = 900
CORRECTION_WINDOW_S = 3600
CORRECT_EVERY = 2
QUERIES_PER_ROUND = 5
# rounds per requested second: a round takes ~6 s on a quiet 4-core box;
# a run has at least MIN_ROUNDS so the last round's compaction and
# catch-up consume follow a correction
ROUNDS_PER_SECOND = 0.15
MIN_ROUNDS = 2

# one registered query per registry, picked to reach the non-CDC kernels
# (DOM, normalizers, dedup, similarity) that neither CDC path runs
QUERY_SET = {
    "htmlqueries": "html_extract_text",
    "textstats": "text_fingerprint",
    "dedup": "dedup_ngram_jaccard",
    "similarity": "sim_bruteforce_topk",
    "multimodal": "mm_metadata",
    "events_ops": "w5_user_value_delta",
    "olap": "a16_rollup_status_priority",
    "analytics": "f3_normalize_string",
    "relational2": "q3_shipping_priority",
}


def _ts(offset_s: float) -> dt.datetime:
    return (dt.datetime.fromisoformat(BASE_TS)
            + dt.timedelta(seconds=offset_s))


def write_drips(spark, seed: int, n: int, out_dir: str) -> None:
    """``n`` drip logs, one ``segment=<i>`` directory each: the first
    DRIP_EVENTS LSNs of each DRIP_LSN_STRIDE-wide stretch of one change
    log from the engine's generator, past the base log's LSNs."""
    lsn = F.col("lsn") - (BASE_EVENTS + DRIP_LSN_STRIDE)
    (changelog_df(spark, LogSpec(
        n_events=n * DRIP_LSN_STRIDE, seed=seed + 1,
        html_pad_blocks=HTML_PAD_BLOCKS,
        lsn_offset=BASE_EVENTS + DRIP_LSN_STRIDE))
     .filter(lsn % DRIP_LSN_STRIDE < DRIP_EVENTS)
     .withColumn("segment", (lsn / DRIP_LSN_STRIDE).cast("int"))
     .repartition(n, "segment").write.partitionBy("segment")
     .parquet(out_dir))


def oracle_matches(spark, sf_dir: str, name: str, rows, cols) -> bool:
    """``rows`` (a query's collected result) equals its DuckDB oracle
    under the oracle-parity suite's canonicalisation; rows-only queries
    compare row count and schema."""
    import duckdb

    from tests.test_oracle_parity import TABLES, _canon

    sql = __spark_entry__.oracle_sql().get(name)
    if sql is None:
        return len(cols) > 0
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    finally:
        con.close()
    return (sorted(cols) == sorted(dcols) and len(rows) == len(drows)
            and _canon(rows, cols) == _canon(drows, dcols))


class Mix:
    """The closed-loop client: every operation is timed into
    ``self.lat[<kind>]`` and counted through ``run.op``."""

    def __init__(self, r, table: LakeTable, replica: LakeTable,
                 drip_dir: str, env_dir: str, sf_dir: str, keys: list[str]):
        self.r, self.tr = r, r.tracer
        self.spark = r.spark
        self.table, self.replica = table, replica
        self.drip_dir, self.env_dir, self.sf_dir = drip_dir, env_dir, sf_dir
        self.keys = keys
        self.rng = random.Random(r.seed)
        self.lat: dict[str, list[float]] = {}
        self.queries = __spark_entry__.queries()
        self.query_order = list(QUERY_SET.items())
        self.rng.shuffle(self.query_order)
        self.next_query = 0
        self.unconsumed_publish_s = 0.0
        self.lines_published = 0
        self.windows_consumed: list[int] = []
        self.compact_versions: list[int] = []
        self.files_per_bucket: list[float] = []

    def reset_counts(self) -> None:
        self.lat.clear()
        self.lines_published = 0
        self.windows_consumed.clear()
        self.compact_versions.clear()
        self.files_per_bucket.clear()

    def timed(self, kind: str, span: str, fn):
        """Run ``fn(rec)`` as one operation; a raise counts as failed."""
        with self.tr.span(span) as rec:
            try:
                out = fn(rec)
                ok = True
            except Exception as exc:  # noqa: BLE001 — counted, reported
                out, ok = None, False
                self.r.op(False, f"{kind}: {exc!r}"[:300])
        self.lat.setdefault(kind, []).append(rec["end"] - rec["start"])
        if ok:
            self.r.op(True, kind)
        return out

    def drip(self, i: int) -> None:
        batch = (self.spark.read.schema(TRANSPORT_SCHEMA)
                 .option("basePath", self.drip_dir)
                 .parquet(os.path.join(self.drip_dir, f"segment={i}")))
        self.timed("commit", "cdc.apply", lambda _: apply_batch(
            self.table, batch, batch_id=f"drip-{i}",
            registry=PAGES_REGISTRY, merge_mode="delta"))

    def lookups(self, n: int) -> None:
        for _ in range(n):
            if self.rng.random() < MISS_SHARE:
                key = f"https://miss{self.rng.randrange(10**6)}.example.org/"
            else:
                key = self.rng.choice(self.keys)

            def look(rec, key=key):
                rows = self.table.lookup(key).collect()
                rec["rows"] = len(rows)
                if len(rows) > 1 or any(row["url"] != key for row in rows):
                    raise AssertionError(f"lookup({key!r}) returned "
                                         f"{[row['url'] for row in rows]}")
            self.timed("lookup", "lake.table.lookup", look)

    def range_read(self) -> None:
        start = self.rng.uniform(0, BASE_EVENTS - RANGE_WINDOW_S)
        lo, hi = _ts(start), _ts(start + RANGE_WINDOW_S)

        def count(rec):
            rec["rows"] = self.table.read(
                between=("warc_ts", lo, hi)).count()
        self.timed("range_read", "lake.table.range_read", count)

    def publish(self) -> None:
        before = set(os.listdir(self.env_dir)) if os.path.isdir(
            self.env_dir) else set()
        self.timed("publish", "cdc.envelope.publish", lambda _:
                   envelope.publish_envelope_window(self.table, self.env_dir))
        self.unconsumed_publish_s += self.lat["publish"][-1]
        for d in set(os.listdir(self.env_dir)) - before:
            for path in glob.glob(os.path.join(self.env_dir, d, "*.json")):
                with open(path, "rb") as f:
                    self.lines_published += sum(1 for _ in f)

    def consume(self) -> None:
        res = self.timed("consume", "cdc.envelope.consume", lambda _:
                         envelope.apply_envelopes(self.replica, self.env_dir))
        if res is not None:
            self.windows_consumed.append(res["windows_applied"])
        self.lat.setdefault("fanout", []).append(
            self.unconsumed_publish_s + self.lat["consume"][-1])
        self.unconsumed_publish_s = 0.0

    def correction(self, n: int) -> None:
        """The ``n``-th correction: updates and deletes alternate."""
        start = self.rng.uniform(0, BASE_EVENTS - CORRECTION_WINDOW_S)
        window = ("warc_ts", _ts(start), _ts(start + CORRECTION_WINDOW_S))
        if n % 2 == 0:
            self.timed("correction", "lake.table.correction", lambda _:
                       self.table.update_where(
                           "fetch_status = 404", {"language": "'xx'"},
                           between=window))
        else:
            self.timed("correction", "lake.table.correction", lambda _:
                       self.table.delete_where("fetch_status = 404",
                                               between=window))

    def compact(self) -> None:
        self.timed("compact", "lake.table.compact",
                   lambda _: self.table.compact())
        self.compact_versions.append(self.table.current_version())

    def query(self, first: bool = False) -> None:
        registry, name = self.query_order[self.next_query % len(QUERY_SET)]
        self.next_query += 1
        df = self.queries[name](self.spark, self.sf_dir)
        if first:
            # the first (cold) run collects and checks the result
            def run(_):
                rows = [tuple(x) for x in df.collect()]
                if not oracle_matches(self.spark, self.sf_dir, name, rows,
                                      df.columns):
                    raise AssertionError(f"{name} differs from its oracle")
        else:
            def run(_):
                df.write.format("noop").mode("overwrite").save()
        self.timed(f"first:{registry}" if first else f"query:{registry}",
                   f"operators.{registry}", run)

    def round(self, i: int, last: bool) -> None:
        self.drip(i)
        self.lookups(LOOKUPS_PER_ROUND)
        self.range_read()
        for _ in range(QUERIES_PER_ROUND):
            self.query()
        self.publish()
        if i % CORRECT_EVERY == 0:
            self.correction(i // CORRECT_EVERY)
        if last:
            self.compact()
            self.consume()
        self.files_per_bucket.append(lakeio.files_per_bucket(self.table))

    def first_queries(self) -> None:
        """First run of every query in the set, collected and checked."""
        for _ in QUERY_SET:
            self.query(first=True)


def run(r) -> dict:
    spark = r.start_spark()
    tr = r.tracer
    n_rounds = max(MIN_ROUNDS, round(r.seconds * ROUNDS_PER_SECOND))
    base_dir, drip_dir = r.path("wal-base"), r.path("wal-drip")
    with tr.span("datagen.log"):
        write_changelog_segments(
            spark, LogSpec(n_events=BASE_EVENTS, seed=r.seed,
                           html_pad_blocks=HTML_PAD_BLOCKS),
            base_dir, n_segments=BASE_SEGMENTS)
        write_drips(spark, r.seed, n_rounds, drip_dir)
    with tr.span("datagen.tables"):
        sf_dir = tables.generate(r.path("sf"), r.seed)
    with tr.span("lake.base_load"):
        table = replay(spark, base_dir, r.path("table"),
                       registry=PAGES_REGISTRY, batch_prefix="base")
        replica = create_pages_table(spark, r.path("replica"))
        keys = [row["url"] for row in table.read(columns=["url"]).collect()]
    mix = Mix(r, table, replica, drip_dir, r.path("envelopes"), sf_dir, keys)
    with tr.span("session.warmup"):
        mix.first_queries()
    first_runs = {k: v[0] for k, v in mix.lat.items()
                  if k.startswith("first:")}
    mix.reset_counts()
    v_before = table.current_version()
    wal_bytes = lakeio.tree_bytes([drip_dir])

    undo = []
    if r.trace:
        undo = [tr.wrap(cdc_apply, "evolve_for_batch", "cdc.apply.evolve"),
                tr.wrap(LakeTable, "merge", "lake.table.merge")]
    r.begin_timed()
    try:
        for i in range(n_rounds):
            mix.round(i, last=i == n_rounds - 1)
    finally:
        wall = r.end_timed()
        for u in undo:
            u()

    # correctness, outside the timed region: drain the topic, then the
    # replica's live state must equal the source's
    with tr.span("check"):
        envelope.publish_envelope_window(table, mix.env_dir)
        envelope.apply_envelopes(replica, mix.env_dir)
        r.op(rows_equal(table.read(), replica.read(), "url"),
             "replica live state differs from the source")

    lat = mix.lat
    steady = {reg: statistics.median(lat[f"query:{reg}"])
              for reg in QUERY_SET if f"query:{reg}" in lat}
    written = lakeio.files_written(table, v_before)
    write_amp = sum(written.values()) / wal_bytes
    n_ops = sum(len(v) for k, v in lat.items() if k != "fanout")
    named = {
        "ops_per_s": (n_ops / wall, "1/s"),
        "commit_s_p50": (statistics.median(lat["commit"]), "s"),
        "lookup_s_p50": (statistics.median(lat["lookup"]), "s"),
        "range_read_s_p50": (statistics.median(lat["range_read"]), "s"),
        "fanout_s_p50": (statistics.median(lat["fanout"]), "s"),
        "correction_s_p50": (statistics.median(lat["correction"]), "s"),
        "compact_s_p50": (statistics.median(lat["compact"]), "s"),
        "query_suite_s": (sum(steady.values()), "s"),
        "write_amp": (write_amp, "ratio"),
    }
    try:
        named["lookup_s_p95"] = (harness.tail_percentile(lat["lookup"], 95),
                                 "s")
    except ValueError as exc:
        print(f"refused lookup_s_p95: {exc}")
    layer = {
        "lake.table.bytes_written": sum(written.values()),
        "lake.table.files_written": len(written),
        "lake.table.compact_bytes_rewritten": sum(
            lakeio.replaced_bytes(table, v) for v in mix.compact_versions),
        "lake.table.files_per_bucket": statistics.mean(mix.files_per_bucket),
        "lake.table.fence_count": len(
            table.snapshot().get("correction_fences", [])),
        "lake.table.write_amp": write_amp,
        "cdc.envelope.publish_s": sum(lat["publish"]),
        "cdc.envelope.consume_s": sum(lat.get("consume", [])),
        "cdc.envelope.lines_published": mix.lines_published,
        "cdc.envelope.windows_per_consume": statistics.mean(
            mix.windows_consumed) if mix.windows_consumed else 0.0,
        "operators.first_run_extra_s": sum(
            first_runs[f"first:{reg}"] - s for reg, s in steady.items()),
        **{f"operators.{reg}_s": s for reg, s in steady.items()},
    }
    return {"write_amp": write_amp, "named": named, "layer": layer}
