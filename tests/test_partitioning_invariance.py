"""Results must be bitwise identical under different parallelism — the
reproducibility claim behind every decimal-sum / fixed-association /
integer-scaled recipe in functions/: a 100 TB cluster re-runs the same
query with different partition counts, shuffle orders, and speculative
retries, and the registry's determinism contract says the values cannot
move. Pin it: run representative value-sensitive queries under two very
different ``spark.sql.shuffle.partitions`` settings and require the exact
same row multiset (floats compared by bit pattern, not tolerance)."""

from __future__ import annotations

import contextlib
import math
import struct
from collections import Counter

import pytest

from discogs_load_spark.queries import REGISTRY

from .conftest import SF_SMALL

# one per determinism recipe: exact decimal sums (q01), iterative decimal
# k-means (q113), RANGE-frame decimal window (q163), integer-scaled
# pagerank (q130), minhash/LSH md5 blocking (q52), star-closure entity
# resolution (q165)
CASES = [
    "q01_pricing_summary",
    "q113_ann_ivf_learned",
    "q163_trailing_window_revenue",
    "q130_event_pagerank",
    "q52_jaccard_neardup",
    "q165_entity_clusters",
]


def _bits(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return struct.pack("<d", v).hex()
    return v


def _rows(df):
    return Counter(tuple(_bits(v) for v in r) for r in df.collect())


@contextlib.contextmanager
def _shuffle_partitions(spark, n: int):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("name", CASES)
def test_values_invariant_to_shuffle_partition_count(name, spark):
    fn = REGISTRY[name].fn
    with _shuffle_partitions(spark, 3):
        few = _rows(fn(spark, SF_SMALL))
    with _shuffle_partitions(spark, 29):
        many = _rows(fn(spark, SF_SMALL))
    assert few == many, f"{name}: values moved with partition count"


_LOCAL4_RANK_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from discogs_load_spark.queries import REGISTRY
from discogs_load_spark.queries.dedup import _snb_ranked
from discogs_load_spark.session import get_spark, load_tables
from tests.conftest import register_duck_views
from tests.test_oracle_parity import _norm_rows
import duckdb

sf = sys.argv[2]
spark = get_spark(master="local[4]", shuffle_partitions=4)
part = load_tables(spark, sf, ["part"])["part"]
carry = ("p_brand", "p_type", "p_size")
# q198's input shape: carried columns over a checkpointed projection
ranked = _snb_ranked(
    part.select("p_partkey", "p_name", *carry).localCheckpoint(), carry
)
rks = sorted(r.rk for r in ranked.collect())
sdf = REGISTRY["q198_linkage_score"].fn(spark, sf)
srows = [tuple(r) for r in sdf.collect()]
con = duckdb.connect()
register_duck_views(con, sf)
res = con.execute(REGISTRY["q198_linkage_score"].oracle)
dcols = [d[0] for d in res.description]
drows = res.fetchall()
print(json.dumps({
    "n_part": part.count(),
    "rks_exact": rks == list(range(1, len(rks) + 1)),
    "n_rk": len(rks),
    "spark_rows": len(srows),
    "oracle_rows": len(drows),
    "match": _norm_rows(sdf.columns, srows) == _norm_rows(dcols, drows),
}))
spark.stop()
"""


def test_snb_rank_and_q198_exact_on_local4():
    """The sorted-neighborhood rank stitches per-partition local ranks
    with per-partition offsets. Both must come from ONE evaluation of the
    range repartition: evaluated twice over a checkpointed input, the
    two evaluations disagreed on each row's partition on ``local[4]``
    (duplicate and missing ranks, extra q198 pairs), while ``local[8]``
    (this suite's session) happened to agree. Runs in a ``local[4]``
    child process at sf0.01: ranks are exactly 1..N and q198 equals its
    oracle."""
    import json
    import os
    import subprocess
    import sys

    from .conftest import REPO, SF_MEDIUM

    env = dict(os.environ, SPARK_DRIVER_MEMORY="2g", PYSPARK_PYTHON=sys.executable)
    out = subprocess.run(
        [sys.executable, "-c", _LOCAL4_RANK_PROBE, str(REPO), SF_MEDIUM],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["n_rk"] == got["n_part"], got
    assert got["rks_exact"], got
    assert got["spark_rows"] == got["oracle_rows"], got
    assert got["match"], got
