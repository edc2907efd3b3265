"""The benchmark's workloads and their output checks.

Each workload is a function ``(bench) -> Result`` that times calls into the
program's public functions from outside. ``bench`` carries the options,
the work directory and the session factory; see ``run.py``.

Workloads and why they were chosen:

- ``stream_fresh``: a 30-day seeded history is bootstrapped through
  ``streaming.medallion.run_streaming_pipeline``; then an open-loop
  generator (``OpenLoop``) writes about 100 orders/s plus their payments
  while the same function runs cycle after cycle on the same checkpoints.
  A cycle carries hundreds of events into a lake of about 80k, so its
  cost is the per-cycle fixed jobs and the pruned merges into a large
  target, not data volume.
- ``query_mix``: one client runs QUERY_SLICE in a closed loop on the
  committed sf0.01 fixture (a copy of the repository's driver test data),
  for at least MIN_PASSES passes; the seed sets only the query order. It
  covers the registry's read and extension surface, which
  ``stream_fresh`` never touches.

Every workload reports the same end-to-end metrics (``BENCHMARK.json``):

- ``setup_s``: Spark session start plus the workload's warm-up: the
  history bootstrap for ``stream_fresh``, WARM_PASSES checked passes for
  ``query_mix``;
- ``unit_s``: median wall time of one unit of the workload's work: one
  streaming cycle, one pass over the query slice (registry calls plus
  actions);
- ``latency_p50_s`` / ``latency_p90_s``: how long a user waits for a
  result: per fully-paid order, from the creation of its last event until
  the cycle that consumed it has committed gold; per query.

Names used by ``bench.py``, and where they went: ``streaming_fct_phases``
-> the traced ``streaming.*`` and ``pipeline.*`` metrics of
``stream_fresh``; ``gold_incremental_merge_sec`` (a MERGE with no new
input) -> superseded by ``stream_fresh``, whose cycles merge real
arrivals; ``pipeline_full_build_sec`` -> no workload (a batch backfill did
not fit the run budget); the traced ``streaming.bootstrap_events_per_s``
is the history backfill through the streaming path.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

import duckdb

import gen

DAYS = 30
STREAM_HISTORY_ORDERS = 40_000
STREAM_RATE = 100  # orders per second of the open loop
TICK_S = 1.0
SOURCE_FILES = 8

# query_mix slice: two Metabase queries (the gold fact and its top-10
# read) and one query each from the streaming and pair-generating tiers.
QUERY_SLICE = (
    "fct_sales_minute",
    "recent_sales_top10",
    "streaming_media_decode",
    "text_minhash_topk_join",
)
# Pass times keep falling for the first three passes of a session (JIT and
# Python worker warm-up), so three passes are set-up and at least three are
# measured.
WARM_PASSES = 3
MIN_PASSES = 3


@dataclass
class Result:
    setup_s: float
    units: list[float]
    latencies: list[float]
    attempted: int
    failed: int
    layers: dict[str, float] = field(default_factory=dict)


def _quantile(values: list[float], q: float) -> float:
    values = sorted(values)
    idx = min(len(values) - 1, max(0, round(q * (len(values) - 1))))
    return values[idx]


def metrics(res: Result) -> dict[str, dict]:
    return {
        "setup_s": {"value": res.setup_s, "unit": "s"},
        "unit_s": {"value": statistics.median(res.units), "unit": "s"},
        "latency_p50_s": {"value": statistics.median(res.latencies), "unit": "s"},
        "latency_p90_s": {"value": _quantile(res.latencies, 0.9), "unit": "s"},
    }


# -- output checks ----------------------------------------------------------

_GOLD_SQL = """
WITH o AS (
  SELECT raw_value FROM (
    SELECT raw_value, row_number() OVER (
      PARTITION BY topic, "partition", "offset" ORDER BY kafka_timestamp DESC) AS rn
    FROM read_parquet({orders})) WHERE rn = 1),
p AS (
  SELECT raw_value FROM (
    SELECT raw_value, row_number() OVER (
      PARTITION BY topic, "partition", "offset" ORDER BY kafka_timestamp DESC) AS rn
    FROM read_parquet({payments})) WHERE rn = 1),
oc AS (
  SELECT json_extract_string(raw_value, '$.order_id') AS order_id,
         CAST(json_extract(raw_value, '$.total_amount') AS DOUBLE) AS total_amount,
         strptime(json_extract_string(raw_value, '$.event_time'),
                  '%Y-%m-%dT%H:%M:%SZ') AS event_ts
  FROM o),
paid AS (
  SELECT CAST(CAST(json_extract(raw_value, '$.order_id') AS BIGINT) AS VARCHAR) AS order_id,
         sum(CAST(json_extract(raw_value, '$.amount_cents') AS BIGINT)) AS cents
  FROM p GROUP BY 1)
SELECT date_trunc('minute', event_ts) AS minute_bucket,
       sum(CAST(round(total_amount * 100) AS BIGINT)) / 100.0 AS gmv,
       count(*) AS paid_orders
FROM oc LEFT JOIN paid USING (order_id)
WHERE event_ts IS NOT NULL
  AND round(coalesce(paid.cents, 0) / 100.0, 2) >= round(total_amount, 2)
GROUP BY 1
"""


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def gold_matches(spark, lake, orders: list[str], payments: list[str]) -> bool:
    """Gold ``fct_sales_minute`` equals an independent DuckDB computation
    over the generated source files."""
    from verify_correctness import normalize

    cols = ["minute_bucket", "gmv", "paid_orders"]
    got = lake.fct_sales_minute.read(spark).select(*cols).toPandas()
    con = duckdb.connect()
    try:
        want = con.execute(
            _GOLD_SQL.format(orders=_sql_list(orders), payments=_sql_list(payments))
        ).fetchdf()
    finally:
        con.close()
    return len(got) == len(want) and normalize(got) == normalize(want[cols])


def _files(directory: str) -> list[str]:
    return sorted(
        os.path.join(directory, f) for f in os.listdir(directory) if f.endswith(".parquet")
    )


# -- stream_fresh -----------------------------------------------------------


class OpenLoop(threading.Thread):
    """Open-loop arrivals: the orders of tick ``k`` are created evenly over
    ``[t0 + k * TICK_S, t0 + (k + 1) * TICK_S)`` and flushed to one orders
    file and one payments file at the end of that interval, whether or not
    the engine has caught up. After ``stop()`` one last file pair is
    flushed at once, with no new orders: the deferred split legs and
    redeliveries of the last tick."""

    def __init__(self, source: gen.EventSource, src: str, t0: float):
        super().__init__(daemon=True)
        self.source, self.src, self.t0 = source, src, t0
        self.first_oid: dict[int, int] = {}  # tick -> its first order id
        self.late: list[float] = []  # flush completion minus flush due time
        self.events = 0
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def created(self, oid: int, k_order: int, k_event: int) -> float:
        """Wall time at which the tick-``k_event`` event of order ``oid``
        (ordered in tick ``k_order``) was created."""
        frac = (oid - self.first_oid[k_order]) / STREAM_RATE
        return self.t0 + (k_event + frac) * TICK_S

    def stop(self) -> None:
        self._halt.set()
        self.join()
        if self.error is not None:
            raise self.error

    def run(self) -> None:
        try:
            k = 0
            while True:
                flush = self.t0 + (k + 1) * TICK_S
                stopped = self._halt.wait(max(0.0, flush - time.time()))
                self._flush(k, 0 if stopped else STREAM_RATE, flush)
                if stopped:
                    return
                k += 1
        except BaseException as e:  # noqa: BLE001 - re-raised by stop()
            self.error = e

    def _flush(self, k: int, n_orders: int, due: float) -> None:
        before = self.source.n_events
        self.first_oid[k] = self.source.next_order_id
        orders, payments = self.source.tick(k, n_orders, TICK_S)
        gen.write_atomic(orders, f"{self.src}/orders", f"tick-{k:06d}.parquet")
        gen.write_atomic(payments, f"{self.src}/payments", f"tick-{k:06d}.parquet")
        self.events += self.source.n_events - before
        if n_orders:
            self.late.append(time.time() - due)


def _source_log(checkpoint: str) -> dict[str, int]:
    """File name -> bronze batch id, from a file stream's source log."""
    out = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _last_batch(checkpoint: str) -> int:
    commits = os.path.join(checkpoint, "commits")
    return max((int(f) for f in os.listdir(commits) if f.isdigit()), default=-1)


def stream_fresh(bench) -> Result:
    """Open-loop arrivals on top of a 30-day history, consumed cycle after
    cycle by ``streaming.medallion.run_streaming_pipeline``."""
    from ecommerce_data_pipeline_spark import pipeline
    from ecommerce_data_pipeline_spark.streaming import medallion

    src = os.path.join(bench.work, "src")
    ckpt = os.path.join(bench.work, "checkpoints")
    source = gen.EventSource(bench.seed)
    orders, payments = source.history(STREAM_HISTORY_ORDERS, DAYS)
    gen.write_split(orders, f"{src}/orders", SOURCE_FILES, "hist")
    gen.write_split(payments, f"{src}/payments", SOURCE_FILES, "hist")
    history_events = source.n_events

    t0 = time.perf_counter()
    spark = bench.session()
    o_schema = spark.read.parquet(f"{src}/orders").schema
    p_schema = spark.read.parquet(f"{src}/payments").schema
    lake = pipeline.Lakehouse(os.path.join(bench.work, "lake"))

    def cycle(phases=None):
        medallion.run_streaming_pipeline(
            spark, lake, f"{src}/orders", f"{src}/payments", o_schema, p_schema,
            ckpt, bronze_files_per_trigger=10_000, phases=phases,
        )

    t_boot = time.perf_counter()
    cycle()  # bootstrap: the history
    boot_s = time.perf_counter() - t_boot
    setup_s = time.perf_counter() - t0

    tracer = bench.start_trace()
    start = time.time()
    loop = OpenLoop(source, src, start)
    loop.start()
    ends, last_batch, units, phases = [], {}, [], []
    attempted = failed = 0
    # Arrivals stop at the end of the first cycle that ends after the
    # window, so every order waits in exactly one cycle and is consumed by
    # the next; the last cycle drains.
    drained = False
    while not drained:
        drained = not loop.is_alive()
        attempted += 1
        ph = {}
        t = time.time()
        idx = tracer.open("streaming.cycle") if tracer else None
        try:
            cycle(ph)
        except Exception as e:  # noqa: BLE001 - a failed cycle is a failed op
            bench.log(f"cycle {len(units) + 1} raised {type(e).__name__}: {e}")
            failed += 1
        finally:
            if tracer:
                tracer.close(idx)
        end = time.time()
        if tracer:
            bench.drain_spans(tracer, idx, t, ph)
        units.append(end - t)
        phases.append(ph)
        ends.append(end)
        for name in ("bronze_orders", "bronze_payments"):
            last_batch.setdefault(name, []).append(_last_batch(os.path.join(ckpt, name)))
        if not drained and end >= start + bench.seconds:
            loop.stop()
    loop.stop()  # re-raises a generator failure
    attempted += 1  # the gold check after the drain

    # Which cycle consumed each tick file, from the bronze source logs.
    consumed = {}
    for name, topic in (("bronze_orders", "orders"), ("bronze_payments", "payments")):
        batches = last_batch[name]
        for fname, batch in _source_log(os.path.join(ckpt, name)).items():
            if not fname.startswith("tick-"):
                continue
            c = next((i for i, b in enumerate(batches) if batch <= b), None)
            consumed[(topic, int(fname[5:11]))] = c
    latencies = []
    for oid, (k_order, k_pay) in source.paid_ticks.items():
        attempted += 1
        c_order, c_pay = consumed.get(("orders", k_order)), consumed.get(("payments", k_pay))
        if c_order is None or c_pay is None:
            bench.log(f"order {oid}: tick files never consumed")
            failed += 1
            continue
        visible = ends[max(c_order, c_pay)]
        latencies.append(visible - loop.created(oid, k_order, k_pay))

    if not gold_matches(spark, lake, _files(f"{src}/orders"), _files(f"{src}/payments")):
        bench.log("stream_fresh: gold differs from the DuckDB oracle after the drain")
        failed += 1

    layers = {}
    if tracer is not None:
        layers = bench.layer_metrics(
            tracer, in_bytes=_bytes(src, "tick-"), n_units=len(units),
            table_bytes=_bytes(lake.root, ""),
        )
        for key in ("bronze_drain", "silver_drain"):
            layers[f"streaming.{key}_s"] = (
                sum(p.get(f"{key}_sec", 0.0) for p in phases) / len(units)
            )
        layers["streaming.events_per_cycle"] = loop.events / len(units)
        layers["sources.gen_late_s"] = max(loop.late)
        layers["streaming.bootstrap_events_per_s"] = history_events / boot_s
    bench.log(
        f"stream_fresh: history {history_events} events, {loop.events} streamed in "
        f"{len(units)} cycles {[round(u, 2) for u in units]}, gen late max "
        f"{max(loop.late):.3f}s"
    )
    return Result(setup_s, units, latencies, attempted, failed, layers)


def _bytes(directory: str, prefix: str) -> int:
    """Total size of the files under ``directory`` named ``prefix*``."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(directory)
        for f in files
        if f.startswith(prefix)
    )


# -- query_mix --------------------------------------------------------------


def query_mix(bench) -> Result:
    """Closed loop, one client: passes over QUERY_SLICE in a seeded order.
    Each query is its registry call plus a collect of the result to pandas,
    as a dashboard client fetches it; every result is then checked against
    the query's DuckDB oracle, outside the timed region."""
    from verify_correctness import dtype_mismatches, normalize

    from ecommerce_data_pipeline_spark.queries import ORACLES, QUERIES
    from ecommerce_data_pipeline_spark.sources.parquet import TABLES

    fixture = bench.fixture
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    oracle = {name: con.execute(ORACLES[name]).fetchdf() for name in QUERY_SLICE}
    con.close()
    wants = {name: normalize(df) for name, df in oracle.items()}

    def run(name, tracer=None) -> float | None:
        """Seconds taken by one checked query, or None if it failed."""
        t = time.perf_counter()
        try:
            with bench.span(tracer, "queries.build"):
                df = QUERIES[name](spark, fixture)
            with bench.span(tracer, "queries.action"):
                got = df.toPandas()
        except Exception as e:  # noqa: BLE001 - a failed query is a failed op
            bench.log(f"{name} raised {type(e).__name__}: {e}")
            return None
        took = time.perf_counter() - t
        want = oracle[name]
        same = sorted(got.columns) == sorted(want.columns)
        if not same or any(dtype_mismatches(got, want)) or normalize(got) != wants[name]:
            bench.log(f"{name}: result differs from its oracle")
            return None
        return took

    t0 = time.perf_counter()
    spark = bench.session()
    warm = [run(name) for _ in range(WARM_PASSES) for name in QUERY_SLICE]
    setup_s = time.perf_counter() - t0
    failed = warm.count(None)
    attempted = len(warm)

    tracer = bench.start_trace()
    rng = random.Random(bench.seed)
    units, latencies = [], []
    deadline = time.perf_counter() + bench.seconds
    while len(units) < MIN_PASSES or time.perf_counter() < deadline:
        order = list(QUERY_SLICE)
        rng.shuffle(order)
        took = [run(name, tracer) for name in order]
        attempted += len(took)
        failed += took.count(None)
        latencies += [t for t in took if t is not None]
        units.append(sum(t for t in took if t is not None))

    layers = {}
    if tracer is not None:
        layers = bench.layer_metrics(tracer, in_bytes=0, n_units=len(units), table_bytes=0)
    bench.log(f"query_mix: passes {[round(u, 2) for u in units]}")
    return Result(setup_s, units, latencies, attempted, failed, layers)


WORKLOADS = {
    "stream_fresh": stream_fresh,
    "query_mix": query_mix,
}
