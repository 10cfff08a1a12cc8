"""The two policies every foreachBatch maintainer shares
(streaming/__init__.py): the epoch commit is atomic, and a drain that
times out stops its query and raises instead of returning partial
state."""

from __future__ import annotations

import builtins
import os
import time

import pytest
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.bloom import (
    bloom_params,
)
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.streaming import (
    await_drain,
    start_foreach_batch,
)
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.streaming.bloomdedup import (
    BloomDedupState,
)


def _mkdocs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t-"), F.col("id").cast("string")).alias("text"),
    )


class _TornWrite:
    """A file handle whose write fails part-way (disk full, kill)."""

    def __init__(self, fh):
        self.fh = fh

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.fh.close()

    def write(self, _data):
        raise OSError("disk full")


def test_failed_commit_keeps_previous_epoch(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "state")
    m, k = bloom_params(100, 0.02)
    st = BloomDedupState(root, m, k)
    sinks = []
    assert st.apply_batch(_mkdocs(spark, 0, 20), 0, "text",
                          lambda df, e: sinks.append(e))

    real_open = builtins.open

    def torn_open(file, mode="r", *args, **kwargs):
        fh = real_open(file, mode, *args, **kwargs)
        if "w" in mode and str(file).startswith(root):
            return _TornWrite(fh)
        return fh

    monkeypatch.setattr(builtins, "open", torn_open)
    with pytest.raises(OSError, match="disk full"):
        st.apply_batch(_mkdocs(spark, 20, 40), 1, "text",
                       lambda df, e: sinks.append(e))
    monkeypatch.undo()

    # the marker still names epoch 0, so the redelivered epoch 1 is
    # applied (not skipped) and epoch 0 is not applied again
    assert st.last_epoch() == 0
    assert st.apply_batch(_mkdocs(spark, 0, 20), 0, "text",
                          lambda df, e: sinks.append(e)) is False
    assert st.apply_batch(_mkdocs(spark, 20, 40), 1, "text",
                          lambda df, e: sinks.append(e)) is True
    assert st.last_epoch() == 1
    assert sinks == [0, 1, 1]
    assert sorted(os.listdir(root)) == [
        "keys_epoch=0", "keys_epoch=1", "last_committed_epoch.txt",
        "sketch_epoch=0", "sketch_epoch=1",
    ]


def test_timed_out_drain_stops_query_and_raises(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(4).repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def slow(_batch_df, _epoch):
        time.sleep(3)

    q = start_foreach_batch(stream, slow, str(tmp_path / "ckpt"))
    with pytest.raises(TimeoutError, match="did not drain within 1s"):
        await_drain(q, timeout=1)
    assert not q.isActive
