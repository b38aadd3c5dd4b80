"""The shared drain harness (streaming/drains.py): state-partition
sizing, checkpoint placement and CRC behavior, conf hygiene, and the
stop-on-error path."""

from __future__ import annotations

import os

import pytest

from data_warehouse_co_healthy_spark.streaming import drains
from data_warehouse_co_healthy_spark.streaming import events as se
from tests.conftest import SF_DIR

FS_KEY = "fs.AbstractFileSystem.file.impl"


@pytest.fixture
def kept_checkpoints(monkeypatch):
    """Keep every dir a drain releases so the test can inspect it."""
    kept = []
    release = drains.release_tmpdir
    monkeypatch.setattr(drains, "release_tmpdir", kept.append)
    yield kept
    for d in kept:
        release(d)


def _checkpoint(kept):
    (ckpt,) = [d for d in kept if "sg_stream_ckpt_" in d]
    return ckpt


def _windowed(spark, name):
    return drains.drain(
        spark,
        lambda s: se.windowed_counts(se.read_events_stream(s, SF_DIR)),
        name,
        "complete",
    )


def test_state_partitions_bytes_term_reads_the_given_source(spark, tmp_path):
    events = tmp_path / "events.parquet"
    events.write_bytes(b"x")
    docs = tmp_path / "documents.parquet"
    with open(docs, "wb") as f:
        f.truncate(40 * (64 << 20))  # sparse: no disk blocks
    assert drains._state_partitions(spark, str(docs), False) == 40
    assert drains._state_partitions(spark, str(events), False) == 4
    assert drains._state_partitions(spark, None, False) == 4
    assert drains._state_partitions(spark, str(tmp_path / "none"), False) == 4


def test_documents_drains_size_from_documents(spark, monkeypatch):
    seen = []
    real = drains._state_partitions

    def spy(session, src, python_stateful):
        seen.append(src)
        return real(session, src, python_stateful)

    monkeypatch.setattr(drains, "_state_partitions", spy)
    drains.stream_topk_drain(spark, SF_DIR)
    drains.stream_url_frontier_drain(spark, SF_DIR)
    assert seen == [os.path.join(SF_DIR, "documents.parquet")] * 2


def test_ephemeral_checkpoint_skips_crc_twins(spark, kept_checkpoints):
    _windowed(spark, "ephemeral_ckpt").count()
    ckpt = _checkpoint(kept_checkpoints)
    assert os.path.isfile(os.path.join(ckpt, "offsets", "0"))
    assert not os.path.exists(os.path.join(ckpt, "offsets", ".0.crc"))
    assert not os.path.exists(os.path.join(ckpt, "commits", ".0.crc"))


def test_durable_checkpoint_is_on_disk_with_crc_twins(spark, kept_checkpoints):
    drains.stream_merge_snapshot_drain(spark, SF_DIR).count()
    ckpt = _checkpoint(kept_checkpoints)
    assert not os.path.realpath(ckpt).startswith("/dev/shm")
    assert os.path.isfile(os.path.join(ckpt, "offsets", ".0.crc"))
    assert os.path.isfile(os.path.join(ckpt, "commits", ".0.crc"))


def test_checkpoint_released_at_stop(spark, monkeypatch):
    made = []
    real = drains.fresh_tmpdir

    def spy(prefix, dir=None):
        made.append(real(prefix, dir=dir))
        return made[-1]

    monkeypatch.setattr(drains, "fresh_tmpdir", spy)
    _windowed(spark, "released_ckpt")
    assert made and not any(os.path.exists(d) for d in made)


def test_drains_leave_caller_and_context_conf_alone(spark):
    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    out = _windowed(spark, "hygiene_memory")
    drains.stream_merge_snapshot_drain(spark, SF_DIR)
    assert hadoop.get(FS_KEY) == "org.apache.hadoop.fs.local.LocalFs"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert spark.conf.get(FS_KEY, None) is None
    # the drain session itself is restored between drains
    assert out.sparkSession is not spark
    assert out.sparkSession.conf.get(FS_KEY, None) is None


def test_failed_drain_stops_query_and_restores(spark, kept_checkpoints):
    from pyspark.sql import functions as F

    with pytest.raises(Exception, match="boom"):
        drains.drain(
            spark,
            lambda s: se.read_events_stream(s, SF_DIR).select(
                F.raise_error(F.lit("boom"))
            ),
            "failing_drain",
            "append",
        )
    child = drains._DRAIN_SESSIONS[spark]
    assert not child.streams.active
    assert child.conf.get(FS_KEY, None) is None
    assert _checkpoint(kept_checkpoints)
