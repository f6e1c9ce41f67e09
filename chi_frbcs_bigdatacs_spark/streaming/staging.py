"""Streaming policy for every `streaming/` key: the staged source
dirs, the file stream that replays them, and the memory sink a key's
query runs into.

Staging is memoized per (kind, sf_dir) — the correctness sweep and
bench run several streaming queries over the same input, and staging
the source once instead of per-query removes both the repeated copy
cost and the /tmp leak (every dir is removed at interpreter exit).
The build is serialized per key, so concurrent queries staging the
same source build it once and share the dir.

Replay: `stream_files` reads a staged dir one file per micro-batch,
and `write_ordered_parts` gives a staged dir's files mtimes that make
that replay follow list order. Sink: `run_to_memory` runs a query to
completion (availableNow) into a memory sink and returns the sink's
rows, dropping the sink's temp view so the session does not keep the
rows alive after the caller lets go of the frame.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_STAGED: dict[tuple[str, str], str] = {}
_KEY_LOCKS: dict[tuple[str, str], threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def staged_dir(kind: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """Return the staged source dir for (kind, sf_dir), building it on
    first use via `build(target_dir)`."""
    key = (kind, sf_dir)
    with _LOCKS_GUARD:
        lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with lock:
        if key not in _STAGED:
            d = tempfile.mkdtemp(prefix=f"chi_stage_{kind}_")
            build(d)
            _STAGED[key] = d
    return _STAGED[key]


def write_ordered_parts(d: str, parts: Iterable[pd.DataFrame]) -> None:
    """Write `parts` as d/part-NN.parquet, each file's mtime 60 s after
    the previous one, so a maxFilesPerTrigger=1 stream picks them up in
    list order, one per micro-batch."""
    base = 1_700_000_000
    for i, part in enumerate(parts):
        fp = f"{d}/part-{i:02d}.parquet"
        part.to_parquet(fp, index=False)
        os.utime(fp, (base + 60 * i, base + 60 * i))


def stream_files(spark: SparkSession, schema: StructType | str, src: str) -> DataFrame:
    """The parquet files in `src` as a stream with `schema`, one file
    per micro-batch."""
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
    return reader.parquet(src)


def run_to_memory(df: DataFrame, mode: str) -> DataFrame:
    """Run the streaming frame `df` to completion into a memory sink
    (output mode `mode`, trigger availableNow) and return the sink's
    rows. The returned frame holds the sink's resolved plan, so it
    stays readable after the sink's temp view is dropped here."""
    spark = df.sparkSession
    name = f"chi_sink_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


@atexit.register
def _cleanup() -> None:
    for d in _STAGED.values():
        shutil.rmtree(d, ignore_errors=True)
    _STAGED.clear()
