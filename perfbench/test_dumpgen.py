"""Input determinism: the same seed gives byte-identical inputs.

    python3 -m pytest perfbench/test_dumpgen.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import dumpgen  # noqa: E402
import fixturegen  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_same_seed_gives_byte_identical_dumps(tmp_path):
    a = dumpgen.generate(str(tmp_path / "a"), seed=5, n_releases=300)
    b = dumpgen.generate(str(tmp_path / "b"), seed=5, n_releases=300)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a["expected"] == b["expected"]
    c = dumpgen.generate(str(tmp_path / "c"), seed=6, n_releases=300)
    assert c["expected"] != a["expected"]


def test_planted_expectations_follow_first_wins(tmp_path):
    m = dumpgen.generate(str(tmp_path), seed=5, n_releases=3000)
    exp = m["expected"]
    assert exp["release"]["rows"] == 3000
    assert exp["artist"]["rows"] == 1600
    assert exp["label"]["rows"] == exp["master"]["rows"] == 400
    # duplicate records are in the input but not in the expected tables
    parents = sum(exp[t]["rows"] for t in ("release", "artist", "label", "master"))
    assert m["input_records"] > parents


def test_digest_is_order_insensitive():
    rows = [[1, "a", ["x"]], [2, "b", []]]
    assert dumpgen.table_digest(rows) == dumpgen.table_digest(rows[::-1])
    assert dumpgen.table_digest(rows) != dumpgen.table_digest(rows[:1])


def test_same_seed_gives_identical_fixture(tmp_path):
    a = fixturegen.generate(str(tmp_path / "a"), seed=5, sf=0.001)
    b = fixturegen.generate(str(tmp_path / "b"), seed=5, sf=0.001)
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
