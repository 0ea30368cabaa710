"""Plain-Python pins for the r08 bounded-output / composed queries
(q191-q199): each query's result is recomputed with an independent
reference implementation (no Spark, no DuckDB) at sf0.001, so a green
oracle row can't be a shared-mistake artifact of the dual-dialect
expression builders.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import pytest

from discogs_load_spark.queries.registry import REGISTRY
from discogs_load_spark.session import load_tables

from .conftest import SF_SMALL


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_q191_best_fuzzy_match_python_reference(spark):
    """Per-part best fuzzy match recomputed by brute force over all
    same-brand pairs with a textbook DP Levenshtein — the query's banded
    vocab-domain join must reproduce it exactly (bounded output: at most
    one row per part, only parts with >= 1 candidate appear)."""
    part = load_tables(spark, SF_SMALL, ["part"])["part"]
    rows = [
        (r.p_partkey, r.p_name, r.p_brand)
        for r in part.select("p_partkey", "p_name", "p_brand").collect()
    ]
    by_brand = defaultdict(list)
    for pk, name, brand in rows:
        by_brand[brand].append((pk, name))

    # distance on the name DOMAIN (vocab² not catalog²), like the query
    want = {}
    for members in by_brand.values():
        for pk, name in members:
            cands = []
            for pk2, name2 in members:
                if pk2 == pk:
                    continue
                d = _levenshtein(name, name2)
                if d <= 2:
                    cands.append((d, pk2, name2))
            if cands:
                d, pk2, name2 = min(cands)
                want[pk] = (name, pk2, name2, d, len(cands))

    got = {
        r.part_id: (
            r.name,
            r.best_match_id,
            r.best_match_name,
            r.edit_dist,
            r.n_candidates,
        )
        for r in REGISTRY["q191_best_fuzzy_match"].fn(spark, SF_SMALL).collect()
    }
    assert got == want
    assert want, "fixture should contain at least one fuzzy pair"


def _fold_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def test_q192_best_embedding_match_python_reference(spark):
    """Three pinned properties of the per-vector best match: (a) the
    reported cosine IS the exact cosine of the reported pair, recomputed
    with the same left-fold association in plain Python (bitwise); (b) it
    never exceeds the true brute-force best over ALL other vectors (LSH
    can miss, never invent); (c) the result is run-to-run deterministic."""
    emb = {
        r.vec_id: list(r.embedding)
        for r in load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
        .select("vec_id", "embedding")
        .collect()
    }
    norms = {i: math.sqrt(_fold_dot(v, v)) for i, v in emb.items()}

    def cos(i, j):
        return _fold_dot(emb[i], emb[j]) / (norms[i] * norms[j])

    fn = REGISTRY["q192_best_embedding_match"].fn
    rows = fn(spark, SF_SMALL).collect()
    assert rows
    brute_best = {
        i: max(cos(i, j) for j in emb if j != i) for i in emb
    }
    for r in rows:
        assert r.best_cosine == cos(r.vec_id, r.best_id)  # bitwise
        assert r.best_cosine <= brute_best[r.vec_id] + 0.0
        assert r.n_candidates >= 1

    again = {
        (r.vec_id, r.best_id, r.best_cosine, r.n_candidates)
        for r in fn(spark, SF_SMALL).collect()
    }
    assert again == {
        (r.vec_id, r.best_id, r.best_cosine, r.n_candidates) for r in rows
    }


def _shingle_set(text: str, k: int = 3) -> frozenset[str]:
    norm = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
    toks = norm.split(" ") if norm else []
    return frozenset(
        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
    )


def test_q195_minhash_best_match_python_reference(spark):
    """(a) every reported best_jaccard is the exact Jaccard of the
    reported pair (recomputed from plain-Python shingle sets); (b) it
    never exceeds the brute-force best over all other docs; (c) every doc
    whose TRUE best Jaccard clears the q52 threshold (the planted
    near-dup pairs) is found with exactly that partner — on this corpus
    the banding catches all of them (q51's oracle is the all-pairs form,
    so a miss here would contradict the q51/q52 green rows)."""
    docs = {
        r.doc_id: r.text
        for r in load_tables(spark, SF_SMALL, ["documents"])["documents"]
        .select("doc_id", "text")
        .collect()
    }
    sets = {i: _shingle_set(t) for i, t in docs.items()}

    def jac(i, j):
        inter = len(sets[i] & sets[j])
        return inter / (len(sets[i]) + len(sets[j]) - inter)

    rows = REGISTRY["q195_minhash_best_match"].fn(spark, SF_SMALL).collect()
    assert rows
    got = {r.doc_id: r for r in rows}
    assert len(got) == len(rows)  # bounded: one row per doc

    brute = {
        i: max(
            ((jac(i, j), -j) for j in sets if j != i), default=(0.0, 0)
        )
        for i in sets
    }
    for r in rows:
        assert r.best_jaccard == jac(r.doc_id, r.best_id)  # exact
        assert r.best_jaccard <= brute[r.doc_id][0]

    planted = {i for i, (bj, _) in brute.items() if bj >= 0.8}
    assert planted, "fixture should contain planted near-dup pairs"
    for i in planted:
        bj, nj = brute[i]
        assert i in got and got[i].best_id == -nj
        assert got[i].best_jaccard == bj


def test_q193_copy_codec_roundtrip_python_reference(spark):
    """The COPY-codec round-trip query must return EXACTLY the staged
    values, recomputed here in plain Python from the supplier rows —
    including the hostile string (tab/newline/CR/backslash), the
    quoted/empty/comma array elements, and the NULL branch."""
    sup = [
        (r.s_suppkey, r.s_name, r.s_nationkey, r.s_acctbal)
        for r in load_tables(spark, SF_SMALL, ["supplier"])["supplier"]
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .collect()
    ]
    want = {
        pk: (
            name + "\tx\n\\\r" + name,
            "|".join([name, '"q,u', "\\", ""]),
            bal,
            nk,
            None if pk % 3 == 0 else name,
        )
        for pk, name, nk, bal in sup
    }
    rows = (
        REGISTRY["q193_copy_codec_roundtrip"].fn(spark, SF_SMALL).collect()
    )
    got = {
        r.s_suppkey: (
            r.gnarly,
            r.parts_joined,
            r.s_acctbal,
            r.s_nationkey,
            r.maybe_null,
        )
        for r in rows
    }
    assert got == want


def test_q194_salted_join_autotune_python_reference(spark):
    """The profile->salt->join composition recomputed in plain Python:
    the per-segment order counts and exact decimal sums of a dict join,
    and the salt factor ceil(max_per_key * n_keys / total). The salted
    join must change NOTHING about the result except carrying the
    factor."""
    t = load_tables(spark, SF_SMALL, ["orders", "customer"])
    seg = {
        r.c_custkey: r.c_mktsegment
        for r in t["customer"].select("c_custkey", "c_mktsegment").collect()
    }
    per_key = defaultdict(int)
    agg = defaultdict(lambda: [0, 0])  # segment -> [n, cents]
    for r in t["orders"].select("o_custkey", "o_totalprice").collect():
        per_key[r.o_custkey] += 1
        a = agg[seg[r.o_custkey]]
        a[0] += 1
        a[1] += round(r.o_totalprice * 10**4)  # DECIMAL(38,4) quantum
    n_keys, total = len(per_key), sum(per_key.values())
    want_salts = (max(per_key.values()) * n_keys + total - 1) // total
    want = {
        s: (n, float(c) / 10**4, want_salts) for s, (n, c) in agg.items()
    }

    rows = (
        REGISTRY["q194_salted_join_autotune"].fn(spark, SF_SMALL).collect()
    )
    got = {
        r.c_mktsegment: (r.n_orders, r.total_price, r.salts_used)
        for r in rows
    }
    assert got == want
    assert want_salts >= 1


def test_q196_sorted_neighborhood_python_reference(spark):
    """The distributed global rank must reproduce the single-machine
    truth: sort all (name, id) pairs in Python, pair each row with its
    next w neighbors, and compare the full output including gaps and DP
    Levenshtein distances."""
    from discogs_load_spark.queries.dedup import SNB_WINDOW

    part = load_tables(spark, SF_SMALL, ["part"])["part"]
    rows = sorted(
        (r.p_name, r.p_partkey)
        for r in part.select("p_partkey", "p_name").collect()
    )
    want = set()
    for i, (name_a, id_a) in enumerate(rows):
        for g in range(1, SNB_WINDOW + 1):
            if i + g < len(rows):
                name_b, id_b = rows[i + g]
                want.add(
                    (id_a, id_b, name_a, name_b, g, _levenshtein(name_a, name_b))
                )
    got = {
        (r.id_a, r.id_b, r.name_a, r.name_b, r.gap, r.edit_dist)
        for r in REGISTRY["q196_sorted_neighborhood"].fn(spark, SF_SMALL).collect()
    }
    assert got == want
    assert len(got) == SNB_WINDOW * len(rows) - SNB_WINDOW * (SNB_WINDOW + 1) // 2


def test_q197_sparse_best_match_python_reference(spark):
    """Brute-force sparse cosine in plain Python: tokenize with the
    query's own regex pipeline, drop tokens with df > cap, compute every
    pairwise integer-tf cosine, and check the per-doc argmax, candidate
    count, and the bitwise value of the reported cosine."""
    from collections import Counter

    from discogs_load_spark.queries.text import SLM_DF_CAP

    docs = {
        r.doc_id: r.text
        for r in load_tables(spark, SF_SMALL, ["documents"])["documents"]
        .select("doc_id", "text")
        .collect()
    }

    def toks(text):
        norm = re.sub(
            r" +", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())
        ).strip()
        return norm.split(" ") if norm else []

    tf = {i: Counter(toks(t)) for i, t in docs.items()}
    df = Counter(t for c in tf.values() for t in c)
    keep = {t for t, d in df.items() if d <= SLM_DF_CAP}
    vec = {i: {t: n for t, n in c.items() if t in keep} for i, c in tf.items()}
    n2 = {i: sum(n * n for n in v.values()) for i, v in vec.items()}

    want = {}
    for i, vi in vec.items():
        cands = []
        for j, vj in vec.items():
            if i == j:
                continue
            dot = sum(n * vj[t] for t, n in vi.items() if t in vj)
            if dot > 0:
                cos = float(dot) / math.sqrt(float(n2[i]) * float(n2[j]))
                cands.append((cos, -j))
        if cands:
            cos, nj = max(cands)
            want[i] = (-nj, cos, len(cands))

    got = {
        r.doc_id: (r.best_id, r.best_cosine, r.n_candidates)
        for r in REGISTRY["q197_sparse_best_match"].fn(spark, SF_SMALL).collect()
    }
    assert got == want
    assert want, "fixture should produce sparse matches"


def test_q198_linkage_score_python_reference(spark):
    """Fellegi-Sunter scoring recomputed end-to-end in plain Python:
    sort, block with the same window, derive each field's u-probability
    from value marginals, and rebuild every pair's composite ratio with
    the same fixed multiply order — match_weight must agree bitwise, and
    pairs that agree on more fields must never score below pairs that
    agree on a subset of those fields."""
    from discogs_load_spark.queries.dedup import SNB_WINDOW

    part = [
        (r.p_partkey, r.p_name, r.p_brand, r.p_type, r.p_size)
        for r in load_tables(spark, SF_SMALL, ["part"])["part"]
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .collect()
    ]
    n = len(part)
    rows = sorted(part, key=lambda r: (r[1], r[0]))

    from collections import Counter

    nc = Counter(r[1] for r in part)
    bc = Counter(r[2] for r in part)
    tc = Counter(r[3] for r in part)
    sc = Counter(r[4] for r in part)
    u_name = sum(
        c1 * c2
        for n1, c1 in nc.items()
        for n2, c2 in nc.items()
        if _levenshtein(n1, n2) <= 2
    )
    u_brand = sum(c * c for c in bc.values())
    u_type = sum(c * c for c in tc.values())
    u_size = sum(
        ca * cb
        for va, ca in sc.items()
        for vb, cb in sc.items()
        if abs(va - vb) <= 1
    )

    def w(agree, num):
        u = float(num) / (float(n) * float(n))
        return 0.95 / u if agree else 0.05 / (1.0 - u)

    want = {}
    for i, (id_a, name_a, b_a, t_a, s_a) in enumerate(rows):
        for g in range(1, SNB_WINDOW + 1):
            if i + g >= len(rows):
                continue
            id_b, name_b, b_b, t_b, s_b = rows[i + g]
            a_name = _levenshtein(name_a, name_b) <= 2
            a_brand = b_a == b_b
            a_type = t_a == t_b
            a_size = abs(s_a - s_b) <= 1
            score = (
                (w(a_name, u_name) * w(a_brand, u_brand))
                * w(a_type, u_type)
            ) * w(a_size, u_size)
            want[(id_a, id_b)] = (
                int(a_name), int(a_brand), int(a_type), int(a_size), score
            )

    got = {
        (r.id_a, r.id_b): (
            r.agree_name, r.agree_brand, r.agree_type, r.agree_size,
            r.match_weight,
        )
        for r in REGISTRY["q198_linkage_score"].fn(spark, SF_SMALL).collect()
    }
    assert got == want
    # monotonicity: agreeing on a superset of fields never scores lower
    by_bits = {}
    for *bits, score in got.values():
        by_bits.setdefault(tuple(bits), set()).add(score)
    for bits_hi, scores_hi in by_bits.items():
        for bits_lo, scores_lo in by_bits.items():
            if bits_hi != bits_lo and all(
                h >= l for h, l in zip(bits_hi, bits_lo)
            ):
                assert min(scores_hi) > max(scores_lo)


def test_q199_adaptive_planes_python_reference(spark):
    """The adaptive variant must (a) report bitwise-exact cosines for its
    reported pairs, (b) never exceed the brute-force best (LSH can only
    miss), and (c) pick the ladder's plane count for the fixture size —
    at sf0.001 that is p=8, so q199's result must EQUAL q192's whenever
    both use 8 planes ... except q192 keys on the full 8-plane string
    while q199 keys on the 8-prefix of 16 — identical keys, identical
    buckets, identical result."""
    from discogs_load_spark.functions.vectors import adaptive_planes_sql

    emb = {
        r.vec_id: list(r.embedding)
        for r in load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
        .select("vec_id", "embedding")
        .collect()
    }
    assert len(emb) <= 4096  # ladder picks p=8 for the fixture
    norms = {i: math.sqrt(_fold_dot(v, v)) for i, v in emb.items()}

    def cos(i, j):
        return _fold_dot(emb[i], emb[j]) / (norms[i] * norms[j])

    rows = (
        REGISTRY["q199_adaptive_lsh_best_match"].fn(spark, SF_SMALL).collect()
    )
    assert rows
    brute_best = {i: max(cos(i, j) for j in emb if j != i) for i in emb}
    for r in rows:
        assert r.best_cosine == cos(r.vec_id, r.best_id)  # bitwise
        assert r.best_cosine <= brute_best[r.vec_id]

    q192 = {
        (r.vec_id, r.best_id, r.best_cosine, r.n_candidates)
        for r in REGISTRY["q192_best_embedding_match"].fn(spark, SF_SMALL).collect()
    }
    q199 = {
        (r.vec_id, r.best_id, r.best_cosine, r.n_candidates) for r in rows
    }
    assert q199 == q192  # same p=8 partitioning family at fixture size


def test_q200_merge_purge_python_reference(spark):
    """End-to-end merge/purge recomputed in plain Python: the q198
    reference scorer (same u-marginals, same fixed-order product), the
    > 100 threshold, union-find over the admitted edges, singletons as
    their own entities — entity ids, member counts, and member lists
    must all agree."""
    from collections import Counter

    from discogs_load_spark.queries.dedup import (
        FS_MATCH_T,
        SNB_WINDOW,
    )
    from discogs_load_spark.operators.dedup import MEMBER_CAP

    part = [
        (r.p_partkey, r.p_name, r.p_brand, r.p_type, r.p_size)
        for r in load_tables(spark, SF_SMALL, ["part"])["part"]
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .collect()
    ]
    n = len(part)
    rows = sorted(part, key=lambda r: (r[1], r[0]))
    nc = Counter(r[1] for r in part)
    bc = Counter(r[2] for r in part)
    tc = Counter(r[3] for r in part)
    sc = Counter(r[4] for r in part)
    u_name = sum(
        c1 * c2
        for n1, c1 in nc.items()
        for n2, c2 in nc.items()
        if _levenshtein(n1, n2) <= 2
    )
    u_brand = sum(c * c for c in bc.values())
    u_type = sum(c * c for c in tc.values())
    u_size = sum(
        ca * cb
        for va, ca in sc.items()
        for vb, cb in sc.items()
        if abs(va - vb) <= 1
    )

    def w(agree, num):
        u = float(num) / (float(n) * float(n))
        return 0.95 / u if agree else 0.05 / (1.0 - u)

    parent = {pk: pk for pk, *_ in part}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for i, (id_a, name_a, b_a, t_a, s_a) in enumerate(rows):
        for g in range(1, SNB_WINDOW + 1):
            if i + g >= len(rows):
                continue
            id_b, name_b, b_b, t_b, s_b = rows[i + g]
            score = (
                (
                    w(_levenshtein(name_a, name_b) <= 2, u_name)
                    * w(b_a == b_b, u_brand)
                )
                * w(t_a == t_b, u_type)
            ) * w(abs(s_a - s_b) <= 1, u_size)
            if score > FS_MATCH_T:
                union(id_a, id_b)

    members = defaultdict(list)
    for pk, *_ in part:
        members[find(pk)].append(pk)
    want = {
        root: (
            len(ms),
            "|".join(str(i) for i in sorted(ms)[:MEMBER_CAP]),
        )
        for root, ms in members.items()
    }
    got = {
        r.entity_id: (r.n_members, r.member_ids)
        for r in REGISTRY["q200_merge_purge_pipeline"].fn(spark, SF_SMALL).collect()
    }
    assert got == want
    assert any(v[0] > 1 for v in want.values()), "expected >= 1 merged entity"


def test_q130_collect_guard_trips_with_premise_message(spark, monkeypatch):
    """The driver-side PageRank collects the vocab² transition graph;
    the r15 guard must refuse (naming the enum-vocabulary premise)
    instead of silently growing the driver when the bound is exceeded."""
    import pytest

    from discogs_load_spark.queries import behavior

    monkeypatch.setattr(behavior, "PR_GRAPH_CAP", -1)
    with pytest.raises(ValueError, match="vocabulary is not enum-small"):
        REGISTRY["q130_event_pagerank"].fn(spark, SF_SMALL)


def test_q165_collect_guard_trips_with_premise_message(spark, monkeypatch):
    """q165's driver-side union-find collects the banded name-pair list;
    the r15 guard must refuse (naming the domain-grain vocabulary
    premise) instead of silently growing the driver."""
    import pytest

    from discogs_load_spark.queries import dedup as qdedup

    monkeypatch.setattr(qdedup, "ENTITY_EDGE_CAP", -1)
    with pytest.raises(ValueError, match="not domain-small"):
        REGISTRY["q165_entity_clusters"].fn(spark, SF_SMALL)


def test_q130_empty_events_returns_empty_frame(spark, tmp_path):
    """ADVICE r14: the driver-side PageRank divided by n = len(nodes);
    an empty events table must degrade to an empty frame (the old
    declarative plan's behavior), not raise ZeroDivisionError."""
    import os

    import pyarrow.parquet as pq

    sf_dir = tmp_path / "sf_empty"
    sf_dir.mkdir()
    # single parquet FILE like the real fixtures (the loader's footer
    # peek takes listdir()[0] of a directory, which would be _SUCCESS)
    src = os.path.join(SF_SMALL, "events.parquet")
    pq.write_table(
        pq.read_table(src).slice(0, 0), str(sf_dir / "events.parquet")
    )
    out = REGISTRY["q130_event_pagerank"].fn(spark, str(sf_dir))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank_scaled"]


def test_q186_collect_guard_trips_with_premise_message(spark, monkeypatch):
    """q186's driver-side skew profile collects each key's
    count-of-counts frame; the r15 guard must refuse (naming the
    value-domain premise) instead of silently growing the driver."""
    import pytest

    from discogs_load_spark.queries import extra

    monkeypatch.setattr(extra, "SKEW_CC_CAP", -1)
    with pytest.raises(RuntimeError, match="value-domain-bounded"):
        REGISTRY["q186_join_key_skew_profile"].fn(spark, SF_SMALL)


@pytest.mark.parametrize(
    "name,module,cap,exc",
    [
        ("q130_event_pagerank", "behavior", "PR_GRAPH_CAP", ValueError),
        ("q165_entity_clusters", "dedup", "ENTITY_EDGE_CAP", ValueError),
        ("q186_join_key_skew_profile", "extra", "SKEW_CC_CAP", RuntimeError),
    ],
)
def test_collect_guard_fires_before_materializing(
    spark, monkeypatch, name, module, cap, exc
):
    """The driver-collect guards exist to keep an over-cap frame off the
    driver, so the guarded collect fetches at most CAP + 1 rows
    (``limit(CAP + 1)``) and the guard fires on that, instead of
    collecting the whole frame and comparing its length afterwards."""
    import importlib

    mod = importlib.import_module(f"discogs_load_spark.queries.{module}")
    monkeypatch.setattr(mod, cap, 1)
    df_cls = type(spark.range(1))
    orig = df_cls.collect
    sizes: list[int] = []

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(df_cls, "collect", spy)
    with pytest.raises(exc) as err:
        REGISTRY[name].fn(spark, SF_SMALL)
    assert sizes and max(sizes) <= 2, sizes
    assert "more than 1 " in str(err.value)
