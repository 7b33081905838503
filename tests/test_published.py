"""publish_once: the atomic publish protocol behind the oracle fixtures
(no Spark session needed)."""

from __future__ import annotations

import os
import sys
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oplog_analyzer_spark.published import MARKER, publish_once  # noqa: E402


def _leftovers(parent) -> list[str]:
    return [f for f in os.listdir(parent) if f.startswith(".tmp-")]


@pytest.mark.parametrize("stale", [False, True], ids=["fresh", "stale"])
def test_publish_once_concurrent_callers_share_one_build(tmp_path, stale):
    out = str(tmp_path / "fixture")
    if stale:  # a crashed or pre-marker run left a directory without it
        os.makedirs(out)
        for name in ("part-0.parquet", "_SUCCESS"):
            open(os.path.join(out, name), "w").close()
    n = 8
    # every build waits until all n are building, so all n race the rename
    barrier = threading.Barrier(n, timeout=30)
    tokens: list[str] = []

    def build(tmp: str) -> None:
        token = uuid.uuid4().hex
        tokens.append(token)
        barrier.wait()
        with open(os.path.join(tmp, "data"), "w") as f:
            f.write(token)

    def publish_and_read(_) -> tuple[str, str]:
        got = publish_once(out, build)
        with open(os.path.join(got, "data")) as f:
            return got, f.read()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            results = list(pool.map(publish_and_read, range(n)))
    finally:
        sys.setswitchinterval(interval)

    assert len(tokens) == n
    assert sorted(os.listdir(out)) == [MARKER, "data"]
    with open(os.path.join(out, "data")) as f:
        winner = f.read()
    # every caller got out back and read the one published copy, which
    # was never replaced after the first caller returned
    assert winner in tokens
    assert results == [(out, winner)] * n
    assert _leftovers(tmp_path) == []

    def must_not_run(tmp: str) -> None:
        raise AssertionError("a published fixture must be reused")

    assert publish_once(out, must_not_run) == out


def test_publish_once_failed_build_leaves_nothing(tmp_path):
    out = tmp_path / "fixture"

    def build(tmp: str) -> None:
        with open(os.path.join(tmp, "partial"), "w") as f:
            f.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        publish_once(str(out), build)
    assert not out.exists()
    assert _leftovers(tmp_path) == []
