"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload stream_fresh --seed 1 --seconds 20 --trace 0

Workloads are defined in ``workloads.py``; ``BENCHMARK.json`` lists them
with their metrics. The program is imported from the working directory
and receives only the inputs this benchmark generates from ``--seed``
(``query_mix`` reads the fixture under ``perfbench/fixture``). Everything
the run writes goes under ``.perfbench_work/`` in the working directory,
which is removed at the end.

With ``--trace 0`` the last line of stdout is the end-to-end result; with
``--trace 1`` the same workload runs with spans and Spark's event log on
and the last line carries the per-layer metrics. The line before it is a
stamp (host cores, CPU setting, pyspark version, commit, seed). Spark runs
at ``local[<cores>]`` with a 3g driver heap unless
``SPARK_GRAFT_DRIVER_MEM`` says otherwise. Exit code
is 0 only when the workload ran; a failed output check is reported as a
failed operation, not as a crash.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "ecommerce_data_pipeline_spark"


class Bench:
    """Options, work directory, Spark session and tracing of one run."""

    def __init__(self, args: argparse.Namespace, root: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.fixture = os.path.join(HERE, "fixture")
        self.cpus = len(os.sched_getaffinity(0))
        self.env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        self._spark = None
        self.jvm_pid: int | None = None

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    # -- session ------------------------------------------------------------

    def session(self):
        """The program's session factory at ``local[<cores>]``, with
        scratch, warehouse and event log inside the work dir."""
        from ecommerce_data_pipeline_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if self.trace:
            conf.update(spans.event_log_conf(os.path.join(self.work, "eventlog")))
        self._spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        self.jvm_pid = int(self._spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return self._spark

    def stop(self) -> None:
        if self._spark is not None:
            self._spark.stop()
            self._spark = None

    @staticmethod
    def shutdown_jvm() -> None:
        """End the py4j gateway's JVM and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- tracing ------------------------------------------------------------

    def start_trace(self):
        """Begin the measured window: with --trace 1 install span wrappers
        and return the tracer, otherwise return None."""
        if not self.trace:
            return None
        tracer = spans.Tracer()
        tracer.install()
        return tracer

    @staticmethod
    def span(tracer, name: str):
        return tracer.span(name) if tracer is not None else contextlib.nullcontext()

    @staticmethod
    def drain_spans(tracer, cycle_idx: int, t: float, phases: dict) -> None:
        """Spans for the bronze and silver drains of a streaming cycle, from
        the program's ``phases`` split (they run back to back from ``t``)."""
        b = phases.get("bronze_drain_sec", 0.0)
        s = phases.get("silver_drain_sec", 0.0)
        tracer.spans.append(spans.Span("streaming.bronze_drain", t, t + b, parent=cycle_idx))
        tracer.spans.append(spans.Span("streaming.silver_drain", t + b, t + b + s, parent=cycle_idx))

    def layer_metrics(self, tracer, in_bytes: int, n_units: int, table_bytes: int) -> dict:
        """Per-layer metrics of the measured window, per unit of work."""
        tracer.uninstall()
        per = max(1, n_units)
        out = {}
        for name in ("pipeline.enrich", "pipeline.gold", "operators.fact", "quality.checks", "lake.overwrite",
                     "queries.build", "queries.action"):
            out[f"{name}_s"] = tracer.totals(name)[0] / per
        merge_s, merge_calls, merge_bytes = tracer.totals("lake.merge")
        # An unpartitioned merge rewrites through overwrite: count its bytes once.
        _, _, over_bytes = tracer.totals("lake.overwrite", outside="lake.merge")
        out["lake.merge_s"] = merge_s / per
        out["lake.merge_calls"] = merge_calls / per
        written = (merge_bytes + over_bytes) / per
        out["lake.bytes_written"] = written
        out["lake.write_amp"] = written / (in_bytes / per) if in_bytes else 0.0
        out["lake.table_bytes"] = float(table_bytes)
        busy = out["queries.build_s"] + out["queries.action_s"]
        out["queries.build_share"] = out["queries.build_s"] / busy if busy else 0.0
        # The event log is complete only once the context stops.
        self.stop()
        counters = spans.spark_counters(tracer, os.path.join(self.work, "eventlog"))
        for span_name, vals in counters.items():
            for key, val in vals.items():
                out[f"spark.{key}.{span_name}"] = val / per
        return out


def _rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _stamp(bench: Bench) -> dict:
    import pyspark

    commit = "unknown"  # e.g. a checkout that is not a git repository
    if os.path.isdir(os.path.join(bench.root, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=bench.root, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip()
    return {
        "workload": bench.workload,
        "seed": bench.seed,
        "nproc": os.cpu_count(),
        "cpus_used": bench.cpus,
        "SPARK_GRAFT_CPUS": bench.env_cpus,
        "pyspark": pyspark.__version__,
        "commit": commit,
    }


LAYER_DEFAULTS = (
    # Metrics a workload that does not exercise the layer reports as 0.
    "streaming.bronze_drain_s", "streaming.silver_drain_s", "streaming.events_per_cycle",
    "streaming.bootstrap_events_per_s", "sources.gen_late_s",
)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE, os.path.join(root, "tools")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    bench = Bench(args, root)
    shutil.rmtree(bench.work, ignore_errors=True)
    os.makedirs(os.path.join(bench.work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(bench.work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(bench.cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = None
    try:
        t0 = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](bench)
        if args.trace:
            metrics = {k: 0.0 for k in LAYER_DEFAULTS}
            metrics.update(res.layers)
            metrics["trace.unit_s"] = statistics.median(res.units)
            metrics["process.peak_rss_mb"] = _rss_mb([os.getpid(), bench.jvm_pid])
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(metrics.items())}
        else:
            metrics = workloads.metrics(res)
        bench.log(f"run took {time.perf_counter() - t0:.1f}s")
    finally:
        bench.stop()
        bench.shutdown_jvm()
        shutil.rmtree(bench.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(bench.work))
    print(json.dumps(_stamp(bench)))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    parts = name.split(".")
    if parts[0] == "spark" and parts[1] in spans.COUNTERS:
        return spans.COUNTERS[parts[1]]
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("_share", "write_amp")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
