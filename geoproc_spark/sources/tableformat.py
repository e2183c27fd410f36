"""Iceberg-style table layout: partitioned parquet + snapshot/manifest JSON.

No Iceberg runtime jar is installable in this sandbox (offline), so this is
a thin, honest stand-in with the metadata features the engine needs —
snapshot ids, schema, partition spec, per-file row counts, and time-travel
by snapshot — behind a two-function API (`write_table`/`read_table`) that a
real `spark.read.format("iceberg")` catalog can replace verbatim. The
analog of the reference's Redis map registry
(/root/reference/geoproc/server/app.py:22,30-52): durable named state
keyed by id, readable without recomputation.

Layout:
    <path>/data/snap-<n>/...        parquet (optionally partitioned), one
                                    immutable directory per snapshot
    <path>/metadata/snap-<n>.json   {schema, partition_spec, base, files[], summary}
    <path>/metadata/version-hint.text   latest snapshot number

Commit ordering is Iceberg's write-data-then-commit: data files land in a
fresh snapshot-scoped directory first, the manifest second, the
version-hint pointer LAST — a crash at any point leaves the previous
snapshot fully readable (old snapshots are never touched; reclaiming them
is an expire-snapshots job, like Iceberg's).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _list_parquet(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


def current_snapshot_id(path: str) -> int | None:
    hint = os.path.join(_meta_dir(path), "version-hint.text")
    if not os.path.exists(hint):
        return None
    with open(hint) as fh:
        return int(fh.read().strip())


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    summary: dict[str, Any] | None = None,
) -> dict:
    """Write a snapshot; returns the manifest dict.

    Per-file row counts come from the parquet footers (no extra Spark job) —
    they are the per-partition lineage the pipeline layer records.

    A partitioned write is clustered first: `rebalance` on the partition
    columns (Iceberg's `write.distribution-mode=hash`) hands each partition
    value to one task, so the snapshot holds about one file per value
    rather than one per value per input split (64 prefixes x N splits),
    and every later read lists and opens that many fewer files. AQE still
    splits a hot value into advisory-size files and merges small ones.

    Data files go to a fresh `data/snap-<n>/` directory BEFORE any metadata
    is written, and the version-hint pointer flips last — a forced re-run
    that crashes mid-write can never corrupt the currently-committed
    snapshot (the Iceberg commit protocol this layer emulates).

    Only mode='overwrite' is supported: each snapshot's file list is exactly
    this write's output. mode='append' would need to merge the parent
    snapshot's file list into the new manifest (Iceberg's append commit) —
    until that exists, accepting it would silently produce a snapshot
    holding ONLY the appended rows (latent data loss, ADVICE r02).
    """
    if mode != "overwrite":
        raise ValueError(
            f"write_table supports only mode='overwrite' (got {mode!r}); "
            "append requires merging the parent snapshot's file list"
        )
    prev = current_snapshot_id(path)
    snap_id = (prev or 0) + 1
    data = os.path.join(_data_dir(path), f"snap-{snap_id}")
    if partition_by:
        df = df.hint("rebalance", *partition_by)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data)

    files = []
    for f in _list_parquet(data):
        files.append(
            {
                "path": os.path.relpath(f, path),
                "rows": pq.ParquetFile(f).metadata.num_rows,
                "bytes": os.path.getsize(f),
            }
        )
    manifest = {
        "snapshot_id": snap_id,
        "parent_id": prev,
        "created_ms": int(time.time() * 1000),
        "schema": df.schema.jsonValue(),
        "partition_spec": partition_by or [],
        "base": os.path.relpath(data, path),
        "files": files,
        "total_rows": sum(f["rows"] for f in files),
        "summary": summary or {},
    }
    os.makedirs(_meta_dir(path), exist_ok=True)
    with open(os.path.join(_meta_dir(path), f"snap-{snap_id}.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    # the commit point: everything above is invisible until this write
    with open(os.path.join(_meta_dir(path), "version-hint.text"), "w") as fh:
        fh.write(str(snap_id))
    return manifest


def read_manifest(path: str, snapshot: int | None = None) -> dict | None:
    snap_id = snapshot if snapshot is not None else current_snapshot_id(path)
    if snap_id is None:
        return None
    f = os.path.join(_meta_dir(path), f"snap-{snap_id}.json")
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        return json.load(fh)


def read_table(spark: SparkSession, path: str, snapshot: int | None = None) -> DataFrame:
    """Read a snapshot (the current one, or `snapshot` for time travel).

    Always reads exactly the manifest's file list with `basePath` set to the
    snapshot's data directory, so Hive-style partition columns (e.g. the
    extract stage's cell_p) are inferred identically for current and
    time-travel reads."""
    m = read_manifest(path, snapshot)
    if m is None:
        raise FileNotFoundError(f"no snapshot metadata under {path}")
    base = os.path.join(path, m.get("base", "data"))
    files = [os.path.join(path, f["path"]) for f in m["files"]]
    return spark.read.option("basePath", base).parquet(*files)


def table_exists(path: str) -> bool:
    return current_snapshot_id(path) is not None


def expire_snapshots(path: str, keep_last: int = 1) -> list[int]:
    """Delete data + metadata of all but the newest `keep_last` snapshots —
    the Iceberg expire_snapshots maintenance job. The current snapshot is
    always kept; returns the expired snapshot ids. Safe w.r.t. the commit
    protocol: the version-hint is never touched, and expired snapshots are
    removed metadata-first so a crash mid-expire leaves dangling data files
    (harmless garbage) rather than a manifest pointing at deleted data."""
    import shutil

    cur = current_snapshot_id(path)
    if cur is None:
        return []
    keep_last = max(1, keep_last)
    expired = []
    for snap_id in range(1, cur - keep_last + 1):
        meta = os.path.join(_meta_dir(path), f"snap-{snap_id}.json")
        if not os.path.exists(meta):
            continue
        with open(meta) as fh:
            m = json.load(fh)
        os.remove(meta)
        base = os.path.join(path, m.get("base", "data"))
        if os.path.realpath(base) != os.path.realpath(_data_dir(path)):
            shutil.rmtree(base, ignore_errors=True)
        expired.append(snap_id)
    return expired
