"""Round-16 optimization tests: internals changed for performance must
keep their exact contracts (OPTIMIZATION_r16.md documents each change)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_rewrite_versioned_pool_matches_sequential(spark, tmp_path, monkeypatch):
    """The concurrent per-partition rewrite pool (guide §2.6) must be
    invisible in the result: same rewritten/skipped sets, same manifest
    version arithmetic, same rows as the sequential path."""
    from ecommerce_data_pipeline_spark.operators.layout import (
        compact_versioned,
        init_versioned_table,
        read_versioned,
        read_versioned_manifest,
        rewrite_versioned,
    )

    df = spark.createDataFrame(
        [(i, float(i % 7), f"g{i % 5}") for i in range(200)],
        "id long, v double, p string",
    )
    paths = {n: str(tmp_path / f"vt_{n}") for n in ("seq", "pool")}
    for p in paths.values():
        init_versioned_table(spark, df.repartition(8), p, "p")

    def halve(d, v):
        # Content-neutral rewrite: same rows, fewer files.
        return d.coalesce(1)

    monkeypatch.setenv("SPARK_GRAFT_MAINT_POOL", "1")
    seq = rewrite_versioned(spark, paths["seq"], halve)
    monkeypatch.setenv("SPARK_GRAFT_MAINT_POOL", "4")
    par = rewrite_versioned(spark, paths["pool"], halve)
    assert seq["rewritten"] == par["rewritten"] == [f"g{i}" for i in range(5)]
    assert seq["skipped"] == par["skipped"] == []
    assert seq["version"] == par["version"]
    rows = lambda p: sorted(  # noqa: E731
        (r["id"], r["v"], r["p"])
        for r in read_versioned(spark, p).collect()
    )
    assert rows(paths["seq"]) == rows(paths["pool"])
    # Both publish identical generation mappings.
    _, m_seq = read_versioned_manifest(spark, paths["seq"])
    _, m_par = read_versioned_manifest(spark, paths["pool"])
    assert m_seq == m_par

    # compact_versioned through the pool keeps its per-partition plans.
    stats = compact_versioned(spark, paths["pool"], target_bytes=8 << 20)
    assert stats["rewritten"] == [] or set(stats["plans"]) == set(
        stats["rewritten"]
    )


def test_rewrite_versioned_pool_failure_aborts_commit(spark, tmp_path, monkeypatch):
    """A failing partition rewrite must abort the WHOLE commit — the
    manifest stays at version n even when sibling partitions already
    landed their gen dirs (they become vacuum-sweepable orphans, the
    same geometry as a crash)."""
    from ecommerce_data_pipeline_spark.operators.layout import (
        init_versioned_table,
        read_versioned,
        read_versioned_manifest,
        rewrite_versioned,
    )

    path = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, f"g{i % 4}") for i in range(80)], "id long, p string"
    )
    init_versioned_table(spark, df.repartition(4), path, "p")
    ver0, mapping0 = read_versioned_manifest(spark, path)
    before = sorted(r["id"] for r in read_versioned(spark, path).collect())

    def explode_on_g2(d, v):
        if v == "g2":
            raise RuntimeError("boom")
        return d.coalesce(1)

    monkeypatch.setenv("SPARK_GRAFT_MAINT_POOL", "4")
    with pytest.raises(RuntimeError, match="boom"):
        rewrite_versioned(spark, path, explode_on_g2)
    # Manifest untouched; the committed snapshot still reads cleanly.
    assert read_versioned_manifest(spark, path) == (ver0, mapping0)
    assert sorted(r["id"] for r in read_versioned(spark, path).collect()) == before


def test_mmr_grouped_kernel_edge_semantics(spark):
    """The grouped Arrow MMR kernel must keep the old per-step join
    semantics at the edges: a single-candidate query emits ONLY rank 1
    (the step join had no pair rows), and selection stops at the
    candidate count even when k_select is larger."""
    from ecommerce_data_pipeline_spark.operators.similarity import mmr_rerank

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (10, [1.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05]), (200, [0.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    # Query 200's only near-candidates: all 4 vectors rank, k_candidates
    # bounds; with k_candidates=1 there is exactly one candidate per
    # query -> no pair block -> only sel_rank 1 survives.
    one = mmr_rerank(vecs, queries, k_candidates=1, k_select=3).collect()
    assert sorted((r["query_id"], r["sel_rank"]) for r in one) == [
        (100, 1),
        (200, 1),
    ]
    # k_select beyond the candidate pool stops at the pool size.
    out = mmr_rerank(vecs, queries, k_candidates=3, k_select=10)
    per_q = (
        out.groupBy("query_id").count().orderBy("query_id").collect()
    )
    assert [r["count"] for r in per_q] == [3, 3]
    # Ranks are dense from 1.
    ranks = sorted(
        r["sel_rank"] for r in out.filter(F.col("query_id") == 100).collect()
    )
    assert ranks == [1, 2, 3]
