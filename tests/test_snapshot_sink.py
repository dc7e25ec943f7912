"""Streaming ingestion into the versioned snapshot table: one version
per micro-batch, EXACTLY once each — a replayed batch_id must not fork
history, and a crash between data write and manifest commit must leave
the replay able to land. No oracle query (the contract is a streaming
side effect); pinned here end-to-end."""

import pytest
from pyspark.sql import functions as F

from keras_ocr_spark.sources.snapshots import history, read_snapshot
from keras_ocr_spark.streaming.snapshot_sink import (
    snapshot_batch_sink,
    start_snapshot_ingest,
)


@pytest.fixture()
def landing(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "landing")
    docs.repartition(3).write.parquet(src)
    return src


class TestSnapshotIngest:
    def test_stream_versions_union_to_batch(self, spark, landing, tmp_path):
        table = str(tmp_path / "table")
        q = start_snapshot_ingest(
            spark.readStream.schema(
                spark.read.parquet(landing).schema
            ).option("maxFilesPerTrigger", "1").parquet(landing),
            table,
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        h = history(table)
        assert len(h) >= 2  # maxFilesPerTrigger=1 over 3 files
        assert [m["version"] for m in h] == list(range(1, len(h) + 1))
        assert all("batch_id" in m for m in h)
        total = sum(m["n_rows"] for m in h)
        assert total == spark.read.parquet(landing).count()
        # versions are disjoint slices: union of all == the batch input
        ids = set()
        for m in h:
            for r in read_snapshot(spark, table, m["version"]).select("doc_id").collect():
                assert r.doc_id not in ids
                ids.add(r.doc_id)
        assert len(ids) == total

    def test_replayed_batch_id_is_noop(self, spark, landing, tmp_path):
        table = str(tmp_path / "table")
        df = spark.read.parquet(landing).limit(5)
        snapshot_batch_sink(df, 0, table)
        assert [m["version"] for m in history(table)] == [1]
        snapshot_batch_sink(df, 0, table)  # replay: same batch_id
        assert [m["version"] for m in history(table)] == [1]
        snapshot_batch_sink(df, 1, table)  # genuinely new batch
        assert [m["version"] for m in history(table)] == [1, 2]

    def test_crash_orphan_is_cleaned_and_replay_lands(self, spark, landing, tmp_path):
        from pathlib import Path

        table = str(tmp_path / "table")
        df = spark.read.parquet(landing).limit(5)
        snapshot_batch_sink(df, 0, table)
        # simulate: batch 1 crashed after writing data, before manifest
        orphan = Path(table) / "data" / "v2"
        df.limit(2).write.parquet(str(orphan))
        snapshot_batch_sink(df.limit(3), 1, table)  # the replay
        h = history(table)
        assert [m["version"] for m in h] == [1, 2]
        assert h[1]["batch_id"] == 1
        assert read_snapshot(spark, table, 2).count() == 3  # replay's data, not the orphan's

    def test_crash_after_version_commit_replay_is_noop(self, spark, landing, tmp_path, monkeypatch):
        """A crash right after the version's manifest lands must not let
        the replay commit the batch again: the manifest that commits the
        version must already carry its batch_id."""
        import os

        table = str(tmp_path / "table")
        df = spark.read.parquet(landing).limit(5)
        real_replace = os.replace

        def crash_after_v1(src, dst):
            real_replace(src, dst)
            if os.path.basename(dst) == "v1.json":
                monkeypatch.setattr(os, "replace", real_replace)
                raise OSError("injected crash after v1.json landed")

        monkeypatch.setattr(os, "replace", crash_after_v1)
        with pytest.raises(OSError, match="injected crash"):
            snapshot_batch_sink(df, 0, table)
        snapshot_batch_sink(df, 0, table)  # the replay of batch 0
        assert [(m["version"], m.get("batch_id")) for m in history(table)] == [(1, 0)]
