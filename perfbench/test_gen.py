"""Tests for the seeded event generator.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digest(tmp_path, seed: int) -> str:
    """Bytes of a small history plus three stream ticks, as one digest."""
    source = gen.EventSource(seed)
    orders, payments = source.history(500, 3)
    gen.write_split(orders, str(tmp_path / "orders"), 2, "hist")
    gen.write_split(payments, str(tmp_path / "payments"), 2, "hist")
    for k in range(3):
        o, p = source.tick(k, 20, 1.0)
        gen.write_atomic(o, str(tmp_path / "orders"), f"tick-{k:06d}.parquet")
        gen.write_atomic(p, str(tmp_path / "payments"), f"tick-{k:06d}.parquet")
    h = hashlib.sha256()
    for sub in ("orders", "payments"):
        for name in sorted(os.listdir(tmp_path / sub)):
            h.update(name.encode())
            h.update((tmp_path / sub / name).read_bytes())
    return h.hexdigest()


def test_same_seed_same_bytes(tmp_path):
    assert _digest(tmp_path / "a", 7) == _digest(tmp_path / "b", 7)


def test_other_seed_other_bytes(tmp_path):
    assert _digest(tmp_path / "a", 7) != _digest(tmp_path / "b", 8)


def test_rows_match_the_derived_stream_schema():
    orders, payments = gen.EventSource(1).history(200, 1)
    names = ["raw_key", "kafka_timestamp", "raw_value", "topic", "partition", "offset", "timestampType"]
    assert orders.schema.names == names and payments.schema.names == names
    assert set(orders.column("topic").to_pylist()) == {"orders.events"}


def test_edge_case_mix_is_present():
    source = gen.EventSource(3)
    orders, payments = source.history(4_000, 2)
    idents = list(zip(orders.column("partition").to_pylist(), orders.column("offset").to_pylist()))
    assert len(idents) > len(set(idents)), "no redelivered order events"
    keys = [int(k) for k in payments.column("raw_key").to_pylist()]
    assert any(k >= gen.ORPHAN_BASE for k in keys), "no orphan payments"
    legs: dict[int, set[str]] = {}
    for k, v in zip(keys, payments.column("raw_value").to_pylist()):
        legs.setdefault(k, set()).add(v)
    assert any(len(v) == 2 for v in legs.values()), "no split payments"
    paid = {k for k in keys if k < gen.ORPHAN_BASE}
    assert len(paid) < source.next_order_id - 1, "no unpaid orders"


def test_no_partial_file_is_visible(tmp_path):
    orders, _ = gen.EventSource(1).history(10, 1)
    gen.write_atomic(orders, str(tmp_path), "tick-000000.parquet")
    assert os.listdir(tmp_path) == ["tick-000000.parquet"]
