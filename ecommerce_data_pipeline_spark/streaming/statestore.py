"""State-store backend selection for stateful streaming queries.

The default HDFSBackedStateStoreProvider keeps every state row on the JVM
heap — fine for fixture-sized state, a hard wall once streaming state
(dedup ids, open sessions, join buffers) outgrows executor memory. RocksDB
(bundled with Spark since 3.2) spills state to local disk with an
off-heap block cache, which is the production default for exactly the
operators this engine runs: dropDuplicatesWithinWatermark id sets,
session_window state, stream-stream join buffers. Changelog checkpointing
keeps commit cost proportional to the delta, not the store size.
"""

from __future__ import annotations

from contextlib import AbstractContextManager

from pyspark.sql import SparkSession

from ecommerce_data_pipeline_spark.session import scoped_conf

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": ROCKSDB,
    # Commit the per-batch changelog instead of re-uploading full SSTs.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}


def rocksdb_state(spark: SparkSession) -> AbstractContextManager[None]:
    """Run the enclosed stream with RocksDB-backed state (restores the
    session's previous provider after). The provider is latched per query
    at stream START from the session conf, so the context only needs to
    span `.start()`."""
    return scoped_conf(spark, _CONFS)
