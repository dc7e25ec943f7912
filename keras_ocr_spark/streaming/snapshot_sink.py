"""Streaming ingestion into the versioned snapshot table — with
exactly-once VERSION commits.

``foreachBatch`` is at-least-once: a micro-batch replayed after a
failure between the sink's write and the offset commit runs the sink
AGAIN with the same ``batch_id``. For a plain append that means
duplicate rows; for a versioned table it is worse — a duplicate
COMMIT, forking history with a phantom version. The fix is the
standard idempotent-sink contract: the sink must be a no-op for a
``batch_id`` it has already committed.

Implementation: every snapshot manifest written by this sink carries
the ``batch_id`` it came from, written by the same atomic manifest
publish that commits the version (a separate stamp step after the
commit would leave a crash window where a committed version has no
``batch_id`` and the replay commits it twice); on entry the sink scans the table
history (tiny — manifests only) and returns immediately when the
batch_id is already present. The snapshot module's commit protocol
(data first, atomic manifest last) then closes the remaining crash
window: a sink killed mid-write leaves an orphan data dir and NO
manifest, so the replay re-runs the write against the next version
number and commits once. Note ``write_snapshot``'s mode="error"
refusal applies to the orphan's OWN dir only when version numbers
collide — version numbering comes from manifests, so the replay gets
the same number; the orphan dir must therefore be cleaned before
re-commit, which the sink does (again: only for versions with no
manifest — committed data is never touched).

Scale shape: per micro-batch one write job (audit metrics ride it via
Observation) plus a manifest-dir listing; state is the manifest dir
itself — no extra store.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame

from ..sources.snapshots import history, write_snapshot


def _committed_batch_ids(table_dir: str) -> set:
    return {m.get("batch_id") for m in history(table_dir) if "batch_id" in m}


def snapshot_batch_sink(batch_df: DataFrame, batch_id: int, table_dir: str) -> None:
    """Idempotent foreachBatch sink: commit ``batch_df`` as the next
    snapshot version, exactly once per ``batch_id``."""
    if batch_id in _committed_batch_ids(table_dir):
        return  # replayed batch: already committed, no-op
    root = Path(table_dir)
    versions = {m["version"] for m in history(table_dir)}
    next_v = (max(versions) + 1) if versions else 1
    orphan = root / "data" / f"v{next_v}"
    if orphan.exists():
        # a crashed prior attempt wrote data but no manifest — the dir
        # is invisible to every reader (manifests are the commit
        # point); clean it so the re-commit can land.
        shutil.rmtree(orphan)
    write_snapshot(batch_df, table_dir, batch_id=batch_id)


def start_snapshot_ingest(stream_df: DataFrame, table_dir: str, checkpoint_dir: str):
    """Run a stream into the versioned table: one snapshot version per
    micro-batch, exactly once each."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: snapshot_batch_sink(df, bid, table_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
