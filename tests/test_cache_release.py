"""The module-level cache lists are drained by swapping them out under
a lock: under many concurrent releasers every retained frame is
unpersisted exactly once and no releaser fails on an emptied list."""

from __future__ import annotations

import sys
import threading

import pytest


class _Frame:
    def __init__(self, calls: list) -> None:
        self.calls = calls

    def unpersist(self) -> None:
        self.calls.append(self)


@pytest.mark.parametrize(
    "module,cache,lock,release",
    [
        (
            "chi_frbcs_bigdatacs_spark.fuzzy.estimator",
            "_RETAINED_INPUTS",
            "_RETAINED_LOCK",
            "_release_retained",
        ),
        (
            "chi_frbcs_bigdatacs_spark.operators.similarity",
            "_SIM_CACHE",
            "_SIM_CACHE_LOCK",
            "_release_sim_cache",
        ),
    ],
)
def test_concurrent_release_unpersists_each_frame_once(module, cache, lock, release):
    import importlib

    mod = importlib.import_module(module)
    frames_list, release_fn = getattr(mod, cache), getattr(mod, release)
    calls: list = []
    errors: list = []
    retained = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(20):
            batch = [_Frame(calls) for _ in range(50)]
            with getattr(mod, lock):
                frames_list.extend(batch)
            retained += batch

            def drain():
                try:
                    release_fn()
                except Exception as e:  # an IndexError is the lost race
                    errors.append(e)

            threads = [threading.Thread(target=drain) for _ in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(switch)
    assert not errors, errors[:3]
    assert not frames_list
    assert len(calls) == len(retained) and {id(f) for f in calls} == {
        id(f) for f in retained
    }
