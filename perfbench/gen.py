"""Seeded Kafka-shaped event generator for the benchmark.

Rows have exactly the columns and types of
``sources.events.orders_events`` / ``payments_events``:
``raw_key, kafka_timestamp, raw_value, topic, partition, offset,
timestampType``. ``raw_value`` carries the same JSON envelopes
(order.created with items in dollars, payment.succeeded with integer
cents), so the program parses them with its own schemas.

Edge-case mix (FIXTURES.md section 3), drawn per order from the seed:

- 10% unpaid, 10% partial (50%), 10% split (60% + 40%, the second leg
  one tick later in a stream), 10% overpaid (110%), 60% exact;
- about 5% of events are Kafka redeliveries: the same
  (topic, partition, offset) row again, in a later file of a stream;
- about 5% of order events are late: ``event_time`` 1-110 min before the
  arrival time, inside the gold table's 2-hour lookback;
- orphan payments, for order ids that never get an order event.

Time is virtual: event time ``ANCHOR + offset``. A history covers the
``days`` before ``ANCHOR``; a stream tick ``k`` is stamped
``ANCHOR + STREAM_LEAD + k * tick_s``. The same seed therefore gives the
same bytes, whatever the wall clock says.

Files are written under a dot-name and renamed into place, so a
streaming file source never lists a partial file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2026-01-01T00:00:00Z in epoch microseconds.
ANCHOR_US = 1_767_225_600 * 1_000_000
# Stream ticks start after the history's last payments (orders at the very
# end of the history are paid up to 11 minutes after it).
STREAM_LEAD_US = 15 * 60 * 1_000_000
N_PARTITIONS = 6
ORPHAN_BASE = 1_000_000_000
LATE_SHARE = 0.05
REDELIVERY_SHARE = 0.05
ORPHAN_SHARE = 0.003

SCHEMA = pa.schema(
    [
        ("raw_key", pa.string()),
        ("kafka_timestamp", pa.timestamp("us", tz="UTC")),
        ("raw_value", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestampType", pa.int32()),
    ]
)

# Payment kinds, drawn per order.
UNPAID, PARTIAL, SPLIT, OVER, EXACT = range(5)
_KIND_P = [0.1, 0.1, 0.1, 0.1, 0.6]


def _iso(us: np.ndarray) -> list[str]:
    """Epoch microseconds -> ``YYYY-MM-DDTHH:MM:SSZ`` (UTC, whole seconds)."""
    secs = np.asarray(us, dtype=np.int64).astype("datetime64[us]").astype("datetime64[s]")
    return [f"{t}Z" for t in np.datetime_as_string(secs).tolist()]


class _Topic:
    """Per-partition offset counters and buffered rows of one topic."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.next_offset = [0] * N_PARTITIONS
        self.rows: list[tuple] = []

    def emit(self, key: int, ts_us: int, value: str) -> tuple:
        p = key % N_PARTITIONS
        row = (str(key), ts_us, value, self.name, p, self.next_offset[p], 0)
        self.next_offset[p] += 1
        self.rows.append(row)
        return row

    def take(self) -> pa.Table:
        rows, self.rows = self.rows, []
        cols = list(zip(*rows)) if rows else [[] for _ in SCHEMA]
        return pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)],
            schema=SCHEMA,
        )


class EventSource:
    """Stateful seeded generator of orders and their payments.

    ``history`` emits a back-dated event set in one go; ``tick`` emits one
    open-loop arrival batch. Both keep offsets, order ids and the pending
    (next-tick) events in this object, so a history followed by ticks is
    one consistent Kafka log.
    """

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.orders = _Topic("orders.events")
        self.payments = _Topic("payments.events")
        self.next_order_id = 1
        self._deferred: list[tuple[int, str]] = []  # next tick's split legs
        self._redeliver: list[tuple[_Topic, tuple]] = []
        # Fully-paid stream orders: order_id -> (tick of the order event,
        # tick of the payment that completes it).
        self.paid_ticks: dict[int, tuple[int, int]] = {}
        self.n_events = 0

    # -- batches ----------------------------------------------------------

    def _orders(self, arrive_us: np.ndarray, pay_us: np.ndarray, k: int | None) -> None:
        """Emit one order per element of ``arrive_us`` with its payments.

        Random draws are vectorised per batch; only the JSON formatting
        loops in Python. Split second legs are paid 60 s after the first in
        a history and deferred to the next tick in a stream."""
        rng = self.rng
        n = len(arrive_us)
        oids = np.arange(self.next_order_id, self.next_order_id + n)
        self.next_order_id += n
        late = rng.random(n) < LATE_SHARE
        event_us = arrive_us - late * rng.integers(60, 110 * 60, n) * 1_000_000
        users = rng.integers(1, 50_000, n)
        kinds = rng.choice(5, size=n, p=_KIND_P)
        n_items = rng.integers(1, 5, n)
        total_items = int(n_items.sum())
        pids = rng.integers(1, 20_000, total_items).tolist()
        qtys = rng.integers(1, 6, total_items)
        cents = rng.integers(100, 20_000, total_items)
        line = (qtys * cents).tolist()
        qtys, cents = qtys.tolist(), cents.tolist()
        orphan = (rng.random(n) < ORPHAN_SHARE).tolist()
        event_times = _iso(event_us)
        j = 0
        for i, oid in enumerate(oids.tolist()):
            m = int(n_items[i])
            items = ",".join(
                f'{{"product_id":{pids[x]},"qty":{qtys[x]},"price":{cents[x] / 100}}}'
                for x in range(j, j + m)
            )
            total = sum(line[j : j + m])
            j += m
            value = (
                '{"event_type":"order.created","event_version":"1.0",'
                f'"trace_id":"t{oid:012x}","order_id":"{oid}",'
                f'"user_id":"user{int(users[i])}@example.com","items":[{items}],'
                f'"currency":"USD","total_amount":{total / 100},'
                f'"status":"CREATED","event_time":"{event_times[i]}",'
                f'"event_id":"e{oid:012x}"}}'
            )
            self._emit(self.orders, oid, int(arrive_us[i]), value)
            kind = int(kinds[i])
            t_pay = int(pay_us[i])
            for leg, amount in enumerate(_legs(kind, total)):
                value = _payment_value(oid, amount)
                if leg == 0:
                    self._emit(self.payments, oid, t_pay, value)
                elif k is None:
                    self._emit(self.payments, oid, t_pay + 60_000_000, value)
                else:
                    self._deferred.append((oid, value))
            if k is not None and kind in (SPLIT, OVER, EXACT):
                self.paid_ticks[oid] = (k, k + 1 if kind == SPLIT else k)
            if orphan[i]:
                self._emit(self.payments, ORPHAN_BASE + oid, t_pay,
                           _payment_value(ORPHAN_BASE + oid, 999))

    def _emit(self, topic: _Topic, key: int, ts_us: int, value: str) -> None:
        row = topic.emit(key, ts_us, value)
        self.n_events += 1
        if self.rng.random() < REDELIVERY_SHARE:
            self._redeliver.append((topic, row))

    def _redeliveries(self) -> None:
        for topic, row in self._redeliver:
            topic.rows.append(row)
            self.n_events += 1
        self._redeliver = []

    def history(self, n_orders: int, days: int) -> tuple[pa.Table, pa.Table]:
        """``n_orders`` orders created uniformly over the ``days`` before
        ANCHOR, paid 30-600 s later; redeliveries appended at the end."""
        span = days * 86_400 * 1_000_000
        created = np.sort(self.rng.integers(ANCHOR_US - span, ANCHOR_US, n_orders))
        pay = created + self.rng.integers(30, 600, n_orders) * 1_000_000
        self._orders(created, pay, None)
        self._redeliveries()
        return self.orders.take(), self.payments.take()

    @staticmethod
    def tick_us(k: int, tick_s: float) -> int:
        return ANCHOR_US + STREAM_LEAD_US + int(k * tick_s * 1_000_000)

    def tick(self, k: int, n_orders: int, tick_s: float) -> tuple[pa.Table, pa.Table]:
        """Arrivals of open-loop tick ``k``: the previous tick's redeliveries
        and deferred split legs, then ``n_orders`` new orders and their
        payments, all stamped with the tick's due time."""
        now = self.tick_us(k, tick_s)
        self._redeliveries()
        deferred, self._deferred = self._deferred, []
        for oid, value in deferred:
            self._emit(self.payments, oid, now, value)
        stamps = np.full(n_orders, now, dtype=np.int64)
        self._orders(stamps, stamps, k)
        return self.orders.take(), self.payments.take()


def _legs(kind: int, total: int) -> list[int]:
    """Payment amounts in cents for an order of ``total`` cents."""
    if kind == UNPAID:
        return []
    if kind == PARTIAL:
        return [total // 2]
    if kind == SPLIT:
        first = total * 6 // 10
        return [first, total - first]
    if kind == OVER:
        return [total + total // 10]
    return [total]


def _payment_value(oid: int, cents: int) -> str:
    return (
        f'{{"type":"payment.succeeded","order_id":{oid},"amount_cents":{cents},'
        f'"currency":"USD","user_email":"user{oid % 50_000}@example.com"}}'
    )


def write_atomic(table: pa.Table, directory: str, name: str) -> int:
    """Write ``table`` as ``directory/name`` via a dot-file rename; returns
    the file size in bytes."""
    os.makedirs(directory, exist_ok=True)
    final = os.path.join(directory, name)
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, final)
    return os.path.getsize(final)


def write_split(table: pa.Table, directory: str, n_files: int, prefix: str) -> int:
    """Write ``table`` as ``n_files`` contiguous slices; returns total bytes."""
    rows = table.num_rows
    step = -(-rows // n_files)
    return sum(
        write_atomic(table.slice(i * step, step), directory, f"{prefix}-{i:04d}.parquet")
        for i in range(n_files)
        if i * step < rows
    )
