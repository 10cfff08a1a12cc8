"""Structured Streaming operators (SURVEY.md §2.8 ST1-ST5), plus the two
policies every foreachBatch maintainer shares:

- ``EpochStore``: exactly-once state under foreachBatch's at-least-once
  redelivery. State lives in ``<prefix>_epoch=N`` directories; a marker
  file names the last COMMITTED epoch. A batch writes its own epoch
  directories (overwrite-safe on replay), then commits the marker; an
  epoch at-or-below the marker is a replay and is skipped, and readers
  list only directories at-or-below the marker, so a crash before the
  commit replays against unchanged state.
- ``start_foreach_batch`` / ``await_drain``: one availableNow
  foreachBatch query, and the wait that fails loudly on a partial drain.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

_MARKER = "last_committed_epoch.txt"


class EpochStore:
    """Versioned per-epoch state directories plus the commit marker,
    under one state root."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def last_epoch(self) -> int:
        """The last committed epoch, -1 before the first commit."""
        p = os.path.join(self.root, _MARKER)
        if not os.path.exists(p):
            return -1
        with open(p) as fh:
            return int(fh.read().strip() or "-1")

    def commit(self, epoch: int) -> None:
        """Move the marker to ``epoch`` atomically: a failed or
        interrupted write leaves the previous marker in place."""
        tmp = os.path.join(self.root, f".{_MARKER}.{uuid.uuid4().hex[:8]}")
        try:
            with open(tmp, "w") as fh:
                fh.write(str(int(epoch)))
            os.replace(tmp, os.path.join(self.root, _MARKER))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def path(self, prefix: str, epoch: int) -> str:
        return os.path.join(self.root, f"{prefix}_epoch={int(epoch)}")

    def read(self, spark, prefix: str, epoch: int) -> DataFrame | None:
        """Union of every ``<prefix>_epoch=N`` directory with N ≤
        ``epoch``; None when there is none. An uncommitted epoch's
        directory may exist after a crash; the filter excludes it."""
        paths = [] if epoch < 0 else sorted(
            os.path.join(self.root, d)
            for d in os.listdir(self.root)
            if d.startswith(f"{prefix}_epoch=") and int(d.split("=")[1]) <= epoch
        )
        return spark.read.parquet(*paths) if paths else None


def start_foreach_batch(
    stream_df: DataFrame, fn, checkpoint: str | None = None
) -> StreamingQuery:
    """Start ``fn(batch_df, epoch_id)`` over ``stream_df`` with the
    availableNow trigger (drain what is there, then stop)."""
    writer = stream_df.writeStream.foreachBatch(fn).trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def await_drain(q: StreamingQuery, timeout: float = 300, hint: str = "") -> None:
    """Wait for ``q`` to finish. A timeout means a partial drain: the
    caller would read partial state (or delete files under a running
    query), so stop the query and raise instead."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"stream query {q.name or q.id} did not drain within {timeout}s"
            + (f" ({hint})" if hint else "")
        )
