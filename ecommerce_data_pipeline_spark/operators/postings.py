"""Cell-partitioned posting layout: idempotent micro-batch writes +
small-files compaction (the OPTIMIZE analogue for the streaming ANN index).

The streaming index-maintenance path (queries/retrieval.py
``streaming_ann_assign``) absorbs new vectors by appending postings per
micro-batch. Two classic lakehouse problems follow, both solved here:

1. **Replay duplication**: a blind ``mode("append")`` duplicates rows when
   a micro-batch retries after a partial write (foreachBatch is
   at-least-once). ``write_posting_batch`` writes each batch to its OWN
   ``batch=b<id>`` partition directory with ``mode("overwrite")`` — a
   reprocessed batch overwrites exactly its own output, the same
   idempotency-by-key discipline as the silver MERGE (reference:
   analytics/spark/jobs/silver_orders_clean.py merge-on-offset).

2. **Small files**: one parquet file per (batch × cell) means a day of
   10 s triggers leaves ~8640 × n_cells tiny files — the layout a 100 TB
   probe would spend its time opening, not scanning. ``compact_postings``
   rewrites a SNAPSHOT of batch directories into one consolidated
   ``batch=compact-*`` directory (one file per cell), then removes exactly
   the inputs it read — concurrent appends that land mid-compaction are
   untouched and survive for the next pass. This is what Delta's OPTIMIZE
   does (the reference README recommends exactly that at README.md:295);
   with delta-spark present, prefer OPTIMIZE.

   **Crash safety (round 12)**: without a transaction log the
   rename-then-delete commit is non-transactional — a crash between the
   two leaves BOTH the compacted dir and (some of) its inputs, i.e.
   duplicated postings. The compactor therefore writes a
   ``_consumed_inputs`` manifest (JSON list of the input ``batch=`` dir
   names) INTO the output before the rename, so the rename atomically
   publishes the compacted data together with the record of what it
   replaced. ``repair_postings`` — run automatically as a
   ``compact_postings`` pre-pass — deletes any ``batch=`` dir named in a
   surviving manifest (stale inputs a crash failed to remove) plus any
   orphaned ``.compact-tmp-*`` dir (a crash before the rename; invisible
   to readers either way). Net effect: the duplicate window self-heals on
   the next compaction instead of being re-compacted into the new
   snapshot, and a crash before the rename costs nothing. Single-writer
   assumption: at most one compactor/repairer runs at a time (appends may
   be concurrent — they are untouched).

   **Reader safety (round 12)**: the default delete-at-commit mode is
   only safe when no reader races the compactor — a reader that lists
   before the commit rename and scans after the deletes loses rows even
   with ``ignoreMissingFiles`` (the compacted dir was never in its file
   index). ``compact_postings(..., retain_inputs=True)`` is the
   OPTIMIZE/VACUUM split that closes this: the commit only tombstones the
   consumed inputs in the manifest, ``read_postings`` serves
   snapshot-consistent reads by excluding tombstoned dirs (nothing
   deletes a non-tombstoned dir, so a listed snapshot is stable), and
   ``vacuum_postings(root, min_age_sec)`` reclaims tombstoned dirs once
   older than the longest-running reader — exactly Delta VACUUM's
   retention contract, which IS the real fix where delta-spark exists.

   Reader-vs-vacuum contract (round 13, test-pinned): an in-flight
   ``read_postings`` scan survives a concurrent vacuum EXACTLY even at
   zero retention — it selects only non-tombstoned dirs and vacuum
   deletes only tombstoned dirs, disjoint by construction. Only RAW
   ``spark.read.parquet(root)`` readers depend on the retention window:
   one whose file index predates the compaction commit references the
   input dirs and fails loudly (FileNotFoundException) if vacuum
   reclaims them mid-scan — so size ``min_age_sec`` to the longest raw
   reader, Delta VACUUM's own rule.

   **Tombstone inheritance (round 13)**: every new manifest records the
   TRANSITIVE closure of consumed dirs — when an input is itself a
   retained compact dir still tombstoning live dirs, those are consumed
   (and, in delete mode, deleted tombstoned-dirs-first) too. Otherwise a
   delete-mode compaction after a retained one would remove the
   tombstoner together with the only manifest naming its tombstones,
   leaving their rows permanently double-counted with nothing for
   repair or vacuum to act on.

All filesystem operations go through the Hadoop FileSystem API (via the
JVM gateway), so the operator works identically on HDFS/S3/local — never
``os.listdir``, which only sees the driver's local disk.

Layout contract: ``root/batch=<id>/cell=<c>/part-*.parquet`` — uniform
two-level partitioning, so ``spark.read.parquet(root)`` discovery works
before, during, and after a delete-at-commit compaction. Under
``retain_inputs=True`` the tombstoned inputs stay on disk until vacuum,
so snapshot-exact reads go through ``read_postings`` (raw root reads
double-count the retention window).
"""

from __future__ import annotations

import functools
import json
import uuid

from pyspark.sql import DataFrame, SparkSession

from ecommerce_data_pipeline_spark.session import run_independent

_MANIFEST = "_consumed_inputs"


def write_batch_output(
    df: DataFrame, root: str, batch_id: int, partition_by: tuple[str, ...] = ()
) -> None:
    """Generic idempotent foreachBatch parquet sink: each micro-batch owns
    ``root/batch=b<id>``, written with overwrite semantics, so an
    at-least-once retry rewrites its own directory instead of appending a
    duplicate copy. Readers take ``spark.read.parquet(root)`` and drop (or
    use) the discovered ``batch`` partition column."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(f"{root}/batch=b{batch_id}")


def write_posting_batch(df: DataFrame, root: str, batch_id: int) -> None:
    """Idempotently write one micro-batch of (.., cell) postings.

    Each batch owns ``root/batch=b<id>``; overwrite semantics make a
    foreachBatch retry rewrite the same directory instead of appending a
    duplicate copy."""
    write_batch_output(df, root, batch_id, partition_by=("cell",))


def write_posting_batches(batches, root: str) -> None:
    """Write several INDEPENDENT micro-batch posting dirs side by side
    (``session.run_independent``, r17 — the same pattern as
    layout.rewrite_versioned): each batch owns its private ``batch=b<id>``
    directory, so the writes share no state and FIFO scheduling back-fills
    executors freed by one write's straggler tail with the next write's
    tasks. ``batches`` is an iterable of
    ``(df, batch_id)``. Lifecycle queries that assert ordering BETWEEN
    write waves still call this once per wave — only within-wave order
    (which no reader can observe: dirs are disjoint and discovery lists
    the final layout) is relaxed."""
    run_independent(
        *(
            functools.partial(write_posting_batch, df, root, bid)
            for df, bid in batches
        )
    )


def _fs(spark: SparkSession, root: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    return jvm, path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def _list_batch_dirs(spark: SparkSession, root: str) -> list[str]:
    jvm, fs, path = _fs(spark, root)
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            out.append(name)
    return sorted(out)


def _count_files(
    spark: SparkSession, root: str, dirs: list[str] | None = None
) -> int:
    """Data files under ``root`` (or only under the named ``batch=`` dirs
    when ``dirs`` is given — the live, reader-visible subset)."""
    jvm, fs, path = _fs(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(path):
        return 0
    roots = [path] if dirs is None else [
        Path(f"{root}/{d}") for d in dirs if fs.exists(Path(f"{root}/{d}"))
    ]
    n = 0
    for r in roots:
        it = fs.listFiles(r, True)
        while it.hasNext():
            f = it.next()
            name = f.getPath().getName()
            if not name.startswith(("_", ".")):
                n += 1
    return n


def _write_manifest(
    spark: SparkSession,
    dir_path: str,
    inputs: list[str],
    retained: bool = False,
) -> None:
    jvm, fs, _ = _fs(spark, dir_path)
    Path = jvm.org.apache.hadoop.fs.Path
    out = fs.create(Path(f"{dir_path}/{_MANIFEST}"), True)
    payload = {"inputs": sorted(inputs), "retained": retained}
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()


def _read_manifest(spark: SparkSession, dir_path: str) -> dict | None:
    """Return ``{"inputs": [...], "retained": bool, "mtime_ms": int}`` for
    the dir's ``_consumed_inputs`` manifest, or None if absent. Accepts
    the legacy plain-list format (pre-retention manifests), which always
    meant delete-immediately (``retained=False``)."""
    jvm, fs, _ = _fs(spark, dir_path)
    Path = jvm.org.apache.hadoop.fs.Path
    p = Path(f"{dir_path}/{_MANIFEST}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    baos = jvm.java.io.ByteArrayOutputStream()
    try:
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
    finally:
        stream.close()
    data = json.loads(bytes(baos.toByteArray()).decode("utf-8"))
    if isinstance(data, list):
        data = {"inputs": data, "retained": False}
    data["mtime_ms"] = fs.getFileStatus(p).getModificationTime()
    return data


def _delete_dirs(spark: SparkSession, root: str, names: list[str]) -> None:
    jvm, fs, _ = _fs(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    for d in names:
        fs.delete(Path(f"{root}/{d}"), True)


def _manifest_map(
    spark: SparkSession, root: str, dirs: list[str] | set[str]
) -> dict[str, dict]:
    """``name -> manifest`` for every ``batch=compact-`` dir in ``dirs``.

    Reads manifests ONLY for dirs present in the caller's single listing,
    so the (dirs, manifests) pair is an internally consistent snapshot: a
    retained compaction committing after the listing is invisible on both
    sides (its output dir unlisted, its tombstones unread) and the caller
    simply sees the pre-compaction snapshot — instead of the
    lost-rows race a second independent listing would open (dirs without
    the new compact dir, consumed WITH its inputs)."""
    out: dict[str, dict] = {}
    for d in dirs:
        if d.startswith("batch=compact-"):
            m = _read_manifest(spark, f"{root}/{d}")
            if m:
                out[d] = m
    return out


def _expand_consumed(
    seeds: list[str] | set[str], manifests: dict[str, dict], live: set[str]
) -> set[str]:
    """Transitive closure of consumption over live dirs: when a consumed
    dir is ITSELF a compact dir whose manifest tombstones live inputs,
    those inputs are consumed too — their rows survive only at the head
    of the compaction chain. Consuming a tombstoner without inheriting
    its tombstones would orphan them as permanent duplicates the moment
    the tombstoner's manifest is deleted."""
    out: set[str] = set()
    frontier = [d for d in seeds if d in live]
    while frontier:
        d = frontier.pop()
        if d in out:
            continue
        out.add(d)
        m = manifests.get(d)
        if m:
            frontier.extend(
                n for n in m["inputs"] if n in live and n != d and n not in out
            )
    return out


def _delete_leaf_first(
    spark: SparkSession,
    root: str,
    names: set[str],
    manifests: dict[str, dict],
) -> list[str]:
    """Delete ``names`` in tombstoned-before-tombstoner order: a compact
    dir is deleted only after every live dir its manifest tombstones is
    gone, so a crash at ANY point leaves every surviving duplicate still
    covered by a surviving manifest (the next repair finishes the job —
    no orphaned tombstones, even for pre-closure legacy manifests).
    Returns the deletion order actually used."""
    jvm, fs, path = _fs(spark, root)
    live = {st.getPath().getName() for st in fs.listStatus(path)}
    remaining = set(names)
    order: list[str] = []
    while remaining:
        ready = [
            d
            for d in sorted(remaining)
            if not any(
                n in live and n != d and n in remaining
                for n in manifests.get(d, {}).get("inputs", [])
            )
        ]
        if not ready:  # defensive: manifests can't cycle, but never hang
            ready = sorted(remaining)
        _delete_dirs(spark, root, ready)
        live -= set(ready)
        remaining -= set(ready)
        order.extend(ready)
    return order


def repair_postings(spark: SparkSession, root: str) -> dict:
    """Self-heal the compactor's crash window (see module docstring).

    Deletes (a) every ``batch=`` dir consumed — directly or through the
    transitive tombstone closure — by a surviving compacted dir's
    delete-immediately (``retained=False``) ``_consumed_inputs`` manifest:
    stale inputs a crash between the rename and the input deletion failed
    to remove, whose rows are duplicates of the compacted output. The
    closure matters when a consumed input is itself a retained compact
    dir still tombstoning live dirs (a legacy pre-closure manifest names
    only the tombstoner): those dirs' rows are in the chain head too, and
    deletion runs tombstoned-dirs-first so a crash mid-repair never
    removes a manifest that still covers live duplicates. Also deletes
    (b) orphaned ``.compact-tmp-*`` dirs from a crash before the rename
    (never visible to readers; pure garbage). ``retained=True`` manifests
    are deliberate OPTIMIZE/VACUUM-style tombstones, NOT crash leftovers
    — their inputs are left for ``vacuum_postings`` to reclaim after the
    retention window. Idempotent; assumes no compactor is running
    concurrently. Returns ``{removed_stale_inputs, removed_tmp_dirs}``.
    """
    jvm, fs, path = _fs(spark, root)
    removed_inputs: list[str] = []
    removed_tmps: list[str] = []
    if not fs.exists(path):
        return {"removed_stale_inputs": [], "removed_tmp_dirs": []}
    names = [st.getPath().getName() for st in fs.listStatus(path)]
    live = set(names)
    manifests = _manifest_map(spark, root, live)
    for c in sorted(manifests):
        manifest = manifests[c]
        if manifest["retained"]:
            continue  # a deliberate retention tombstone, vacuum's job
        seeds = [d for d in manifest["inputs"] if d in live and d != c]
        stale = _expand_consumed(seeds, manifests, live) - {c}
        removed_inputs.extend(
            _delete_leaf_first(spark, root, stale, manifests)
        )
        live -= stale
    tmps = [n for n in names if n.startswith(".compact-tmp-") and n in live]
    _delete_dirs(spark, root, tmps)
    removed_tmps.extend(tmps)
    return {
        "removed_stale_inputs": sorted(removed_inputs),
        "removed_tmp_dirs": sorted(removed_tmps),
    }


def _consumed_dirs(
    spark: SparkSession, root: str, dirs: list[str] | set[str]
) -> set[str]:
    """The union of ``batch=`` dir names consumed by the manifests of the
    compacted dirs in ``dirs`` — dirs whose rows are duplicated by a
    published compaction and must be excluded from snapshot reads and
    from later compactions (whether they linger from a crash or from
    deliberate retention). ``dirs`` MUST be the caller's own single
    listing: deriving both the dir set and the consumed set from one
    listing keeps the snapshot internally consistent under a racing
    retained compaction (see ``_manifest_map``)."""
    manifests = _manifest_map(spark, root, dirs)
    consumed: set[str] = set()
    for d, manifest in manifests.items():
        consumed.update(n for n in manifest["inputs"] if n != d)
    return consumed


def vacuum_postings(
    spark: SparkSession, root: str, min_age_sec: float = 0.0
) -> dict:
    """Reclaim inputs consumed by retention-mode compactions
    (``compact_postings(..., retain_inputs=True)``) once their manifest is
    at least ``min_age_sec`` old — Delta VACUUM's contract, minus the log:
    pick a retention no shorter than the longest reader, and no snapshot
    listed before the compaction commit can still be scanning when its
    files disappear. Crash-safe by idempotence: a kill mid-delete leaves
    the manifest in place, so the next vacuum finishes the job. Returns
    ``{removed, kept_young}``.
    """
    import time

    jvm, fs, path = _fs(spark, root)
    removed: list[str] = []
    kept: list[str] = []
    if not fs.exists(path):
        return {"removed": [], "kept_young": []}
    now_ms = time.time() * 1000.0
    # Fixpoint loop, leaf-tombstones first: a consumed dir that is ITSELF
    # a compact dir still tombstoning live inputs must outlive them — if
    # it were deleted first, its manifest (the only record of those
    # inputs) would vanish and its tombstones would be orphaned as
    # permanent duplicates. Each pass deletes only unblocked stale dirs;
    # the next pass unblocks their tombstoner. Terminates: every pass
    # either deletes something or stops.
    while True:
        live = set(_list_batch_dirs(spark, root))
        manifests = {}
        for c in sorted(n for n in live if n.startswith("batch=compact-")):
            m = _read_manifest(spark, f"{root}/{c}")
            if m and m["retained"]:
                manifests[c] = m
        blocked = {
            c
            for c, m in manifests.items()
            if any(d in live and d != c for d in m["inputs"])
        }
        kept = []
        deleted_this_pass: list[str] = []
        for c, m in manifests.items():
            stale = [d for d in m["inputs"] if d in live and d != c]
            if not stale:
                continue
            if now_ms - m["mtime_ms"] < min_age_sec * 1000.0:
                kept.extend(stale)
                continue
            safe = [d for d in stale if d not in blocked]
            _delete_dirs(spark, root, safe)
            deleted_this_pass.extend(safe)
            live -= set(safe)
        removed.extend(deleted_this_pass)
        if not deleted_this_pass:
            break
    return {"removed": sorted(removed), "kept_young": sorted(set(kept))}


def read_postings(spark: SparkSession, root: str) -> DataFrame:
    """Manifest-aware snapshot read of a posting root.

    ``spark.read.parquet(root)`` is only exact when no compaction is
    mid-flight: between the compactor's commit rename and its input
    deletes — a window that is permanent under
    ``retain_inputs=True`` — the root holds BOTH the compacted dir and
    the inputs it consumed, and a raw read double-counts them. This
    reader lists the ``batch=`` dirs, drops every dir named in a live
    compacted dir's manifest (its rows are in the compacted output by the
    commit protocol), and scans the remainder with ``basePath=root`` so
    the ``batch``/``cell`` partition columns survive. Nothing deletes a
    non-consumed dir, so the selected snapshot is stable; as
    belt-and-braces the scan sets ``ignoreMissingFiles`` for readers that
    outlive the vacuum retention window (the retention itself — sized to
    the longest reader, exactly Delta VACUUM's contract — is the real
    guarantee). Cell-pruned probes should filter on ``cell`` as usual;
    the filter stays a partition-directory prune under this read shape.

    One listing, both sides: the consumed set is derived from manifests of
    compact dirs IN that same listing (``_consumed_dirs(..., dirs)``), so
    a retained compaction committing mid-read leaves us the consistent
    pre-compaction snapshot — never the lost-rows combination of
    "compact dir unlisted but its inputs excluded".
    """
    dirs = _list_batch_dirs(spark, root)
    selected = sorted(set(dirs) - _consumed_dirs(spark, root, dirs))
    if not selected:
        raise ValueError(f"read_postings: no live batch= dirs under {root}")
    return (
        spark.read.option("basePath", root)
        .option("ignoreMissingFiles", "true")
        .parquet(*[f"{root}/{d}" for d in selected])
    )


def compact_postings(
    spark: SparkSession,
    root: str,
    file_threshold: int = 8,
    min_input_dirs: int = 2,
    retain_inputs: bool = False,
) -> dict:
    """Consolidate a snapshot of ``batch=*`` posting directories into one
    ``batch=compact-*`` directory with one parquet file per cell.

    No-op (returns ``compacted=False``) unless the snapshot spans at least
    ``min_input_dirs`` directories AND more than ``file_threshold`` data
    files — compaction that rewrites one big file into another is pure
    write amplification. Inputs are pruned by partition value, so the read
    never touches batches that arrive mid-compaction; those are left in
    place for the next pass. Runs ``repair_postings`` first, so a previous
    run's crash window self-heals before the new snapshot is taken (never
    re-compacting duplicated rows).

    ``retain_inputs=True`` is the reader-safe OPTIMIZE/VACUUM split: the
    consumed inputs are NOT deleted at commit — the manifest tombstones
    them (``retained=True``) and ``vacuum_postings(root, min_age_sec)``
    reclaims them once older than the longest reader. Snapshot-consistent
    reads then go through ``read_postings`` (a raw
    ``spark.read.parquet(root)`` would double-count tombstoned dirs);
    in-flight raw readers never hit FileNotFoundException because nothing
    is deleted in their face. With the default ``retain_inputs=False``
    the inputs are deleted at commit (raw reads stay exact, modulo the
    crash window repair_postings heals), which is only safe when no
    reader can race the compactor. Consumed-but-live dirs from earlier
    retained compactions are excluded from the new snapshot either way —
    their rows are already in a published compact dir.

    Returns stats: ``{compacted, n_input_dirs, n_files_before,
    n_files_after, output_dir, repair}`` — file counts cover the LIVE
    (non-tombstoned) dirs, i.e. what a snapshot reader opens.
    """
    repair = repair_postings(spark, root)
    dirs = _list_batch_dirs(spark, root)
    manifests = _manifest_map(spark, root, dirs)
    consumed = _consumed_dirs(spark, root, dirs)
    inputs = [d for d in dirs if d not in consumed]
    n_before = _count_files(spark, root, inputs)
    stats = {
        "compacted": False,
        "n_input_dirs": len(inputs),
        "n_files_before": n_before,
        "n_files_after": n_before,
        "output_dir": None,
        "repair": repair,
    }
    if len(inputs) < min_input_dirs or n_before <= file_threshold:
        return stats

    input_values = [d.split("=", 1)[1] for d in inputs]
    everything = spark.read.parquet(root)
    snapshot = everything.where(everything["batch"].isin(input_values))
    data_cols = [c for c in snapshot.columns if c not in ("batch", "cell")]
    out_name = f"batch=compact-{uuid.uuid4().hex[:12]}"
    tmp_name = f".compact-tmp-{uuid.uuid4().hex[:12]}"
    # repartition BY cell → every cell's rows land in one task → exactly
    # one output file per cell directory.
    (
        snapshot.select(*data_cols, "cell")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{root}/{tmp_name}")
    )
    # Commit protocol: manifest INTO the tmp dir first, then one rename
    # publishes data + manifest atomically, then delete the inputs. A
    # crash after the rename leaves the manifest in place for
    # repair_postings to finish the deletes on the next run. The manifest
    # records the TRANSITIVE closure: if an input is a retained compact
    # dir, the still-live dirs IT tombstones are consumed too — their
    # rows live on only through this new head, and its manifest must say
    # so before the tombstoner (and its manifest) can be deleted.
    consumed_closure = _expand_consumed(inputs, manifests, set(dirs))
    _write_manifest(
        spark,
        f"{root}/{tmp_name}",
        sorted(consumed_closure),
        retained=retain_inputs,
    )
    jvm, fs, path = _fs(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.rename(Path(f"{root}/{tmp_name}"), Path(f"{root}/{out_name}")):
        raise IOError(f"compact_postings: rename to {out_name} failed")
    if not retain_inputs:
        # Delete the whole closure, tombstoned-dirs-first: every surviving
        # duplicate stays covered by a surviving manifest at any crash
        # point (the new head's manifest names them all).
        _delete_leaf_first(spark, root, consumed_closure, manifests)
    dirs_after = _list_batch_dirs(spark, root)
    live_after = [
        d
        for d in dirs_after
        if d not in _consumed_dirs(spark, root, dirs_after)
    ]
    stats.update(
        compacted=True,
        n_files_after=_count_files(spark, root, live_after),
        output_dir=out_name,
    )
    return stats
