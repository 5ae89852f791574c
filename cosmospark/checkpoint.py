"""Iceberg-style staged parquet checkpoints: snapshot manifest + lineage.

The north rule requires every stage to be resumable from checkpoint with
per-partition lineage + row-count metrics. No Iceberg jar exists in this
environment, so this implements the same contract as plain parquet plus a
tiny JSON snapshot manifest, committed via atomic directory rename:

    <root>/<stage>/_MANIFEST.json   {stage, schema, n_rows, files: [
                                     {path, rows, bytes}], committed_at}
    <root>/<stage>/part-*.parquet

``run_stage_fp`` is the resume point: if a committed manifest exists
(with a matching input fingerprint) the stage is *skipped* and its
parquet is read back; otherwise the stage function runs, writes to a
temp dir, and the rename publishes it.
(The reference's analog is its streaming JSONL sink for bounded-memory
planet builds, cosmogony/src/read.rs:7-14 + README.md:55-62.)
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_MANIFEST.json"


def _collect_file_stats(path: str) -> list[dict]:
    files = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        full = os.path.join(path, name)
        meta = pq.ParquetFile(full).metadata
        files.append({"path": name, "rows": meta.num_rows, "bytes": os.path.getsize(full)})
    return files


def write_stage(
    df: DataFrame,
    root: str,
    stage: str,
    fingerprint: str | None = None,
    committed_at: float | None = None,
) -> dict:
    """Write df as a committed stage snapshot; returns the manifest.
    ``committed_at`` is stamped fresh unless the caller carries over an
    existing commit identity (compaction: content is unchanged, so the
    identity downstream cascade tokens fold in must not change)."""
    final = os.path.join(root, stage)
    tmp = final + "._tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    df.write.mode("overwrite").parquet(tmp)
    files = _collect_file_stats(tmp)
    manifest = {
        "stage": stage,
        "schema": df.schema.json(),
        "n_rows": sum(f["rows"] for f in files),
        "n_files": len(files),
        "files": files,
        "fingerprint": fingerprint,
        "committed_at": time.time() if committed_at is None else committed_at,
    }
    with open(os.path.join(tmp, MANIFEST), "w") as fh:
        json.dump(manifest, fh, indent=1)
    # crash-safe commit: the previous snapshot is renamed ASIDE (not
    # deleted) before the new one renames in — a crash between the two
    # steps leaves either the old snapshot (recoverable by renaming
    # back) or both; never zero committed snapshots
    old = final + "._old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(final):
        os.rename(final, old)
    os.rename(tmp, final)
    if os.path.exists(old):
        shutil.rmtree(old)
    return manifest


def is_committed(root: str, stage: str) -> bool:
    return os.path.exists(os.path.join(root, stage, MANIFEST))


def read_stage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, stage))


def read_manifest(root: str, stage: str) -> dict:
    with open(os.path.join(root, stage, MANIFEST)) as fh:
        return json.load(fh)


def compact_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    target_bytes: int = 128 << 20,
) -> dict:
    """Rewrite a committed stage's parquet into ~``target_bytes`` files
    (small-file compaction — the lake maintenance a 10^12-row table
    needs after incremental/streaming appends: thousands of KB-scale
    part files wreck scan planning and footer IO). File count is sized
    from the CURRENT on-disk bytes; the rewrite reuses the same
    crash-safe rename commit as write_stage, and the manifest's
    fingerprint AND committed_at are carried over so downstream
    fingerprint-gated resumes stay valid (compaction changes layout,
    not content — build_zones' cascade token folds in
    fingerprint@committed_at, so a fresh timestamp here would force a
    full downstream recompute, defeating compaction, ADVICE r3)."""
    m = read_manifest(root, stage)
    total_bytes = sum(f["bytes"] for f in m["files"])
    n_files = max(1, -(-total_bytes // target_bytes))  # ceil
    df = read_stage(spark, root, stage).coalesce(n_files)
    out = write_stage(
        df,
        root,
        stage,
        fingerprint=m.get("fingerprint"),
        committed_at=m.get("committed_at"),
    )
    if out["n_rows"] != m["n_rows"]:  # paranoia: compaction must not drop rows
        raise RuntimeError(
            f"compaction row-count drift: {m['n_rows']} -> {out['n_rows']}"
        )
    return out


def run_stage_fp(
    spark: SparkSession, root: str | None, stage: str, fingerprint: str | None, fn
) -> DataFrame:
    """Resumable stage: reuse a committed snapshot, else compute+commit.

    A committed snapshot is reused ONLY if its recorded fingerprint
    matches — otherwise the stage recomputes (silently reusing a stale
    snapshot after inputs or code changed is the checkpoint footgun).
    ``fingerprint=None`` reuses any committed snapshot.

    With root=None no parquet snapshot is written, but the stage output
    is still ``localCheckpoint``-ed: stage boundaries MUST truncate the
    logical plan either way. Downstream stages (iterative parent-chain
    joins, label fan-out) reference their input many times over — on a
    deep base lineage (e.g. the raw-OSM extraction: ring-assembly
    applyInPandas + window + joins) the composed plan tree grows
    multiplicatively and Catalyst/AQE plan handling alone can OOM the
    driver. The zone dim is broadcast-scale, so materializing each stage
    is cheap; at planet scale pass ``root`` and stages become parquet
    snapshots (which truncate lineage by construction, plus resume)."""
    if root is None:
        return fn().localCheckpoint(eager=True)
    if is_committed(root, stage):
        m = read_manifest(root, stage)
        if fingerprint is None or m.get("fingerprint") == fingerprint:
            return read_stage(spark, root, stage)
    df = fn()
    write_stage(df, root, stage, fingerprint=fingerprint)
    return read_stage(spark, root, stage)
