"""Optimization profiler: time individual registry queries solo.

Mirrors bench.py's setup (stream/silver/corpus caches warmed, Arrow pool
forked, codegen JIT'd) so per-query numbers isolate the operator under
test, then times each named query ``--runs`` times with the noop sink and
reports min/median (plus the streaming phase split for streaming
queries). ``--plan TAG`` additionally writes ``<OUT>/<query>_<TAG>.txt``
with the ``explain("formatted")`` output (before/after plan evidence).

Usage:
    python tools/profile_queries.py [--runs N] [--plan TAG] [--out plans/<tag>]
        query [query ...]

(Not ``tools/profile.py``: run as a script, that name would shadow the
stdlib ``profile`` module, which ``import pyspark`` reaches via cProfile.)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan", dest="plan_tag", metavar="TAG")
    ap.add_argument("--out", default="plans", help="plan dump dir (--plan)")
    ap.add_argument("names", nargs="+", metavar="query")
    args = ap.parse_args()
    runs, plan_tag, names = args.runs, args.plan_tag, args.names

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from ecommerce_data_pipeline_spark.queries import QUERIES
    from ecommerce_data_pipeline_spark.session import get_spark
    from ecommerce_data_pipeline_spark.sources import corpus as cx
    from ecommerce_data_pipeline_spark.sources import events as ev
    from ecommerce_data_pipeline_spark.sources.parquet import load_table as _lt
    from ecommerce_data_pipeline_spark.operators import dedup as _dd

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    ev.enable_stream_cache(True)
    ev.orders_events(spark, sf_dir).count()
    ev.payments_events(spark, sf_dir).count()
    ev.silver_orders_frame(spark, sf_dir).count()
    ev.silver_payments_frame(spark, sf_dir).count()
    docs_warm = _lt(spark, sf_dir, "documents").limit(64)
    _dd.minhash_lsh_pairs(docs_warm).count()
    _lt(spark, sf_dir, "embeddings").limit(1).count()
    cx.enable_corpus_cache(True)
    cx.dedup_clusters_frame(spark, sf_dir).count()
    spark.range(256).repartition(32).mapInPandas(lambda it: it, "id long").count()
    setup = round(time.time() - t0, 3)

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        times = []
        builds = []
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"profile:{name}#{r}")
            t = time.time()
            df = fn(spark, sf_dir)
            tb = time.time()
            df.write.format("noop").mode("overwrite").save()
            te = time.time()
            builds.append(round(tb - t, 3))
            times.append(round(te - t, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "runs": times,
            "build": builds,
            "min": min(times),
            "median": round(statistics.median(times), 3),
        }
        from ecommerce_data_pipeline_spark.queries.streaming_q import (
            STREAMING_PHASES,
        )
        if STREAMING_PHASES:
            out[name]["phases"] = dict(STREAMING_PHASES)
            STREAMING_PHASES.clear()
        print(
            f"{name}: min={min(times)} runs={times} build={builds}",
            file=sys.stderr,
        )
        if plan_tag:
            os.makedirs(args.out, exist_ok=True)
            df = fn(spark, sf_dir)
            p = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(f"{args.out}/{name}_{plan_tag}.txt", "w") as fh:
                fh.write(p)

    print(json.dumps({"setup_sec": setup, "queries": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
