"""The one way a stream in this package is run: drain the source once
with the availableNow trigger, wait, and fail loudly on timeout.

Every ``run_*_stream`` runner goes through ``drain`` (memory sinks,
snapshot commits) or ``drain_epochs`` (per-epoch parquet directories).
A drain that does not finish within ``timeout_s`` stops its query and
raises ``TimeoutError`` — never returns the partial rows, and never
leaves the query running (a still-active named query would block the
next run of the same memory table).

Sink idempotency: foreachBatch is at-least-once, so a micro-batch may
be replayed after a failure. ``drain_epochs`` gives each epoch its own
``epoch=N`` directory and the ``write`` callbacks overwrite it, so a
replayed epoch replaces its own output instead of appending duplicate
rows. ``epoch`` shows up as a partition column on re-read; callers that
do not want it drop it. Epoch overwrite only protects WITHIN a run: a
fresh checkpoint restarts epoch numbering, so runners whose result
must not include a previous run's epochs call ``clear_epoch_dirs``
first. Snapshot-committing runners (``sinks/versioned.py``) get the
same guarantee from an epoch tag on each commit instead.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


def drain(
    writer: DataStreamWriter, checkpoint: str, timeout_s: float
) -> None:
    """Start ``writer`` with an availableNow trigger at ``checkpoint``
    and wait for the source to drain; stop the query and raise
    ``TimeoutError`` if it has not finished within ``timeout_s``."""
    query = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"{os.path.basename(checkpoint)} stream did not drain within "
            f"{timeout_s}s; partial output discarded"
        )


def drain_epochs(
    stream: DataFrame,
    checkpoint: str,
    out_dir: str,
    write: Callable[[DataFrame, str], None],
    timeout_s: float,
) -> DataFrame:
    """Drain ``stream`` through a foreachBatch sink that hands each
    micro-batch and its ``out_dir/epoch=N`` path to ``write``; return
    everything under ``out_dir`` re-read as a batch frame."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        write(batch, os.path.join(out_dir, f"epoch={epoch}"))

    drain(stream.writeStream.foreachBatch(_sink), checkpoint, timeout_s)
    reader = stream.sparkSession.read.option("basePath", out_dir)
    return reader.parquet(out_dir)


def overwrite_parquet(batch: DataFrame, path: str) -> None:
    """The plain ``write`` for ``drain_epochs``: the batch as parquet,
    replacing whatever a replay of the same epoch left there."""
    batch.write.mode("overwrite").parquet(path)


def clear_epoch_dirs(out_dir: str) -> None:
    """Remove epoch=N partitions left by a PREVIOUS run. foreachBatch
    epoch numbering restarts with each new checkpoint, so a rerun's
    mode('overwrite') only replaces epochs it happens to reuse —
    leftovers would read back as live rows."""
    if os.path.isdir(out_dir):
        for name in os.listdir(out_dir):
            if name.startswith("epoch="):
                shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
