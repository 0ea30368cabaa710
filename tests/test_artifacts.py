"""The write-once artifact protocol (discogs_load_spark/artifacts.py) that
every on-disk cache of the engine publishes through."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from discogs_load_spark.artifacts import publish_once, source_key

from .conftest import REPO

_RACER = """
import os, sys, time
sys.path.insert(0, sys.argv[1])
from discogs_load_spark.artifacts import publish_once

dest, go, who = sys.argv[2], sys.argv[3], sys.argv[4]
while not os.path.exists(go):
    time.sleep(0.005)

def write(tmp):
    os.makedirs(tmp)
    for i in range(3):
        with open(os.path.join(tmp, f"part-{i}"), "w") as f:
            f.write(who)
        time.sleep(0.2)  # both racers are mid-build at once

print(publish_once(dest, write))
"""


def _siblings(tmp_path):
    return sorted(os.listdir(tmp_path))


def test_two_processes_publish_one_complete_copy(tmp_path):
    dest = str(tmp_path / "artifact")
    go = str(tmp_path.parent / f"{tmp_path.name}.go")
    racers = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER, str(REPO), dest, go, who],
            stdout=subprocess.PIPE,
            text=True,
        )
        for who in ("a", "b")
    ]
    time.sleep(0.5)  # let both start polling
    open(go, "w").close()
    try:
        outs = [p.communicate(timeout=60)[0].strip() for p in racers]
    finally:
        os.remove(go)
    assert [p.returncode for p in racers] == [0, 0]
    assert outs == [dest, dest]
    parts = sorted(os.listdir(dest))
    assert parts == ["part-0", "part-1", "part-2"]
    writers = {open(os.path.join(dest, p)).read() for p in parts}
    assert len(writers) == 1, writers  # one builder's copy, whole
    assert _siblings(tmp_path) == ["artifact"]  # no *.tmp* left behind


def test_failed_write_leaves_nothing(tmp_path):
    dest = str(tmp_path / "artifact")

    def write(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "part-0"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        publish_once(dest, write)
    assert _siblings(tmp_path) == []


def test_existing_artifact_is_reused_and_rebuild_replaces_it(tmp_path):
    dest = str(tmp_path / "artifact")
    calls = []

    def write_version(v):
        def write(tmp):
            calls.append(v)
            os.makedirs(tmp)
            with open(os.path.join(tmp, f"v{v}"), "w") as f:
                f.write(str(v))

        return write

    assert publish_once(dest, write_version(1)) == dest
    assert publish_once(dest, write_version(2)) == dest
    assert calls == [1] and os.listdir(dest) == ["v1"]
    assert publish_once(dest, write_version(3), rebuild=True) == dest
    assert calls == [1, 3] and os.listdir(dest) == ["v3"]
    assert _siblings(tmp_path) == ["artifact"]


def test_source_key_tracks_path_size_and_mtime(tmp_path):
    a = tmp_path / "a.parquet"
    a.write_bytes(b"1234")
    k = source_key(str(a))
    assert k == source_key(str(a)) and len(k) == 16
    st = os.stat(a)
    os.utime(a, ns=(st.st_atime_ns, st.st_mtime_ns + 7_000_000_000))
    k_mtime = source_key(str(a))
    assert k_mtime != k
    a.write_bytes(b"12345")
    os.utime(a, ns=(st.st_atime_ns, st.st_mtime_ns + 7_000_000_000))
    assert source_key(str(a)) != k_mtime  # same mtime, new size
    b = tmp_path / "b.parquet"
    b.write_bytes(a.read_bytes())
    os.utime(b, ns=(st.st_atime_ns, st.st_mtime_ns + 7_000_000_000))
    assert source_key(str(b)) != source_key(str(a))  # same stat, new path
    assert source_key(str(a), str(b)) != source_key(str(a))
