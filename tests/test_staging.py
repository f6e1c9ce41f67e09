"""The streaming policy module (streaming/staging.py): staged source
dirs built once under concurrency, the mtime-ordered part writer, and
the memory-sink runner that leaves no temp view or query behind."""

from __future__ import annotations

import os
import threading
import time
import uuid

import pandas as pd

from tests.conftest import SF_SMALL


def test_staged_dir_builds_once_under_concurrency():
    from chi_frbcs_bigdatacs_spark.streaming.staging import staged_dir

    kind = f"concurrency_{uuid.uuid4().hex[:8]}"
    calls = []

    def build(d: str) -> None:
        calls.append(d)
        time.sleep(0.2)

    got: list[str] = []
    threads = [
        threading.Thread(target=lambda: got.append(staged_dir(kind, SF_SMALL, build)))
        for _ in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1
    assert got == calls * 8


def test_write_ordered_parts_names_and_mtimes(tmp_path):
    from chi_frbcs_bigdatacs_spark.streaming.staging import write_ordered_parts

    df = pd.DataFrame({"k": range(7)})
    write_ordered_parts(str(tmp_path), [df.iloc[:3], df.iloc[3:6], df.iloc[6:]])
    names = sorted(os.listdir(tmp_path))
    assert names == ["part-00.parquet", "part-01.parquet", "part-02.parquet"]
    mtimes = [os.stat(tmp_path / n).st_mtime for n in names]
    assert mtimes == [1_700_000_000, 1_700_000_060, 1_700_000_120]
    back = [pd.read_parquet(tmp_path / n)["k"].tolist() for n in names]
    assert back == [[0, 1, 2], [3, 4, 5], [6]]


def test_stream_keys_release_their_sinks(spark, duck):
    """Four keys across windows, stateful and cdc run their memory
    sinks through run_to_memory: afterwards no chi_* temp view and no
    query is left, and the frames they returned still match the
    oracle."""
    from chi_frbcs_bigdatacs_spark.plans.registry import get_registry
    from tests.parity import compare

    def chi_views() -> set[str]:
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith("chi_")
        }

    reg = get_registry()
    keys = (
        "stream_tumbling",
        "stream_stateful_count",
        "stream_merge_upsert",
        "stream_sketch_kmv",
    )
    before = chi_views()
    results = {k: reg[k].fn(spark, SF_SMALL) for k in keys}
    assert chi_views() == before
    assert spark.streams.active == []
    for k, sdf in results.items():
        compare(sdf, duck.execute(reg[k].sql).df(), label=k)
