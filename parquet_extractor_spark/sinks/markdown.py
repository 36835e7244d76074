"""File-per-row sinks (SURVEY §2.1 S8-S10).

Spark's writers emit ``part-*`` files; the reference needs NAMED
per-row files (main.py:100-103). So the sink is one ``mapPartitions``
pass — ONE Spark job — whose tasks render and write their rows on
executors and return a ``(written, skipped, failed)`` tally each; the
driver sums the collected tallies. Three reference behaviors are
preserved:

- **skip-existing** (api.py:248-254): the driver lists ``out_dir``
  once (regular files, minus hidden ``_``/``.`` names — the rule
  Spark's file listing applies) and ships the names to the tasks as a
  broadcast ``frozenset``;
- **single-writer-per-file** via ``repartition(filename)`` — two rows
  with the same target name land in the same task;
- **per-row error tolerance** (api.py:344-346) — an unsafe filename
  or a failed render/write counts the row as failed instead of
  aborting the job. Counts come from successful task results, so a
  retried task is counted once.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


def existing_names(out_dir: str) -> frozenset[str]:
    """Names of the regular files already in ``out_dir`` (empty when it
    does not exist), hidden names excluded."""
    if not os.path.isdir(out_dir):
        return frozenset()
    with os.scandir(out_dir) as entries:
        return frozenset(
            e.name
            for e in entries
            if e.is_file() and not e.name.startswith(("_", "."))
        )


def write_rows(
    work: DataFrame,
    out_dir: str,
    render: Callable[[Row], bytes],
    skip: frozenset[str] = frozenset(),
) -> tuple[int, int, int]:
    """Write ``render(row)`` to ``out_dir/<row.filename>`` for every row
    of ``work`` in one Spark job; rows named in ``skip`` are skipped.
    Returns (written, skipped, failed)."""
    os.makedirs(out_dir, exist_ok=True)
    skip_b = work.sparkSession.sparkContext.broadcast(skip)

    def _write_partition(rows):
        names = skip_b.value
        written = skipped = failed = 0
        for row in rows:
            name = row["filename"]
            if name in names:
                skipped += 1
                continue
            try:
                # this sink is also fed by uploaded-parquet extract
                # jobs: a filename carrying a separator or absolute
                # path must not escape out_dir
                if (
                    not name
                    or os.path.basename(name) != name
                    or name in (os.curdir, os.pardir)
                ):
                    raise ValueError(f"unsafe filename: {name!r}")
                data = render(row)
                with open(os.path.join(out_dir, name), "wb") as fh:
                    fh.write(data)
                written += 1
            except Exception:
                failed += 1
        yield written, skipped, failed

    try:
        tallies = work.rdd.mapPartitions(_write_partition).collect()
    finally:
        skip_b.destroy()
    return tuple(sum(c) for c in zip((0, 0, 0), *tallies))


def write_files(
    df: DataFrame,
    out_dir: str,
    filename_col: str = "filename",
    body_col: str = "body",
    skip_existing: bool = True,
    partitions: int | None = None,
) -> dict:
    """Write one file per row. Returns {"written": n, "skipped": n,
    "failed": n} mirroring the reference's job result dict
    (api.py:87-88, api.py:369-372)."""
    work = df.select(
        F.col(filename_col).alias("filename"), F.col(body_col).alias("body")
    )
    if partitions:
        work = work.repartition(partitions, "filename")
    written, skipped, failed = write_rows(
        work,
        out_dir,
        lambda row: (row["body"] or "").encode("utf-8"),
        existing_names(out_dir) if skip_existing else frozenset(),
    )
    return {"written": written, "skipped": skipped, "failed": failed}
