"""Materialized embedding cluster-assignment index — the embedding-side
sibling of the document signature index (queries/sig_index.py).

SemDeDup blocking (q154) and the curation pipeline (q169) both start by
k-means-clustering the embedding space (similarity.sem_assignments: flat
or two-level Lloyd, 2 unrolled rounds with broadcast centroids and
decimal-exact means), then do all real work inside cluster-keyed joins.
The assignment is a DETERMINISTIC pure function of the embeddings table
(seed centroids are fixed by vec_id order, means are exact decimals), so
at production scale it is an ingest artifact — SemDeDup's own recipe
clusters once and reuses the partition for every downstream screen —
not a per-query computation. This module materializes (vec_id, cluster)
once per embeddings fingerprint (path, size, mtime + a version string
folding in the k-ladder and iteration count), with
``SPARK_GRAFT_EMB_INDEX=0`` as the in-plan referee switch, equality
test-pinned (tests/test_sig_index.py).

q99 (the registered k-means query) intentionally KEEPS computing its
assignments in-plan: it is the live Lloyd computation the oracle checks
round-for-round; this index is for the queries that CONSUME a finished
partition.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from ..artifacts import publish_once, source_key
from .sig_index import _materialized

EMB_INDEX_DIR = os.environ.get(
    "SPARK_GRAFT_EMB_INDEX_DIR", "/tmp/spark_graft_emb_index"
)


def _version() -> str:
    # every constant the build lineage branches on belongs here — a
    # changed constant without a version change serves a stale cached
    # index (ADVICE r10: SEM_K and the flat-vs-two-level cutoff were
    # missing)
    from ..functions.vectors import ADAPTIVE_LSH_MAX_PLANES
    from .similarity import SEM_CELL, SEM_ITER, SEM_K, SEM_TWO_LEVEL_MIN

    return (
        f"v2:semk{SEM_K}-semcell{SEM_CELL}-iter{SEM_ITER}"
        f"-2lvl{SEM_TWO_LEVEL_MIN}-bits{ADAPTIVE_LSH_MAX_PLANES}-nrm"
    )


def _fingerprint(sf_dir: str, version: str) -> str:
    return f"{version}|{source_key(os.path.join(sf_dir, 'embeddings.parquet'))}"


def _index_fingerprint(sf_dir: str) -> str:
    return _fingerprint(sf_dir, _version())


def _enriched_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build lineage, in-plan: the embeddings table enriched with
    every per-vector derived column the similarity family consumes —
    the k-means cluster (SemDeDup blocking), the 16-hyperplane sign-bit
    string (every LSH consumer's bucket is a PREFIX of it: the plane
    family is nested by construction, functions/vectors.hyperplanes),
    and the L2 norm (the exact-cosine denominators). At production
    scale this IS the enriched embeddings table a pipeline writes at
    ingest; locally it doubles a small fixture."""
    from pyspark.sql import functions as F

    from ..functions.vectors import (
        ADAPTIVE_LSH_MAX_PLANES,
        lsh_bucket_sql,
        norm2_sql,
    )
    from ..session import load_tables
    from .similarity import DIM, sem_assignments

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    # bounded: 1-row count-star scalar sizes the clustering to the corpus
    assigned = sem_assignments(emb, emb.count())
    bits = lsh_bucket_sql("embedding", ADAPTIVE_LSH_MAX_PLANES, DIM, "spark")
    return (
        emb.join(assigned, "vec_id")
        .select(
            "vec_id",
            "embedding",
            "cluster",
            F.expr(bits).alias("bits"),
            F.expr(f"sqrt({norm2_sql('embedding', DIM, 'spark')})").alias(
                "nrm"
            ),
        )
    )


def emb_enriched(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, embedding, cluster, bits, nrm) — the materialized
    enriched embeddings table; see the module docstring.
    ``SPARK_GRAFT_EMB_INDEX=0`` bypasses and returns the in-plan
    lineage (referee mode)."""
    if os.environ.get("SPARK_GRAFT_EMB_INDEX", "1") == "0":
        return _enriched_frame(spark, sf_dir)
    return _materialized(
        spark,
        EMB_INDEX_DIR,
        _index_fingerprint(sf_dir),
        lambda: _enriched_frame(spark, sf_dir),
        rebuild,
    )


def emb_cluster_index(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, cluster) — the SemDeDup blocking view of the enriched
    table (column pruning reaches the parquet scan, so the embedding
    payload is never read)."""
    return emb_enriched(spark, sf_dir, rebuild=rebuild).select(
        "vec_id", "cluster"
    )


# --- frozen delta-training centroids (q220/q221/q222/q225) -----------------
#
# The streaming/incremental assignment family trains the SAME frozen
# centroid table on every invocation: base snapshot = the vec_id-modulo
# complement of the held-out delta (queries/dedup.NEW_MOD/NEW_REM),
# sem_assignments Lloyd rounds, centroids = per-cluster decimal-exact
# means (recompute_centroids). That is a deterministic pure function of
# the embeddings table — an ingest artifact, not per-query work (ADVICE
# r12: q221/q222 re-ran the full Lloyd training per invocation and leaked
# a persisted frame). Materialized per embeddings fingerprint with the
# SAME referee switch as the enriched index (SPARK_GRAFT_EMB_INDEX=0
# recomputes in-plan; equality test-pinned in tests/test_sig_index.py).


def _centroid_version() -> str:
    from .dedup import NEW_MOD, NEW_REM
    from .similarity import SEM_CELL, SEM_ITER, SEM_K, SEM_TWO_LEVEL_MIN

    return (
        f"cent-v1:semk{SEM_K}-semcell{SEM_CELL}-iter{SEM_ITER}"
        f"-2lvl{SEM_TWO_LEVEL_MIN}-mod{NEW_MOD}r{NEW_REM}"
    )


def _centroid_fingerprint(sf_dir: str) -> str:
    return _fingerprint(sf_dir, _centroid_version())


def _centroid_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.clustering import recompute_centroids
    from ..session import load_tables
    from .dedup import NEW_MOD, NEW_REM
    from .similarity import sem_assignments

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    base = emb.filter((F.col("vec_id") % NEW_MOD) != NEW_REM)
    # bounded: 1-row count-star scalar sizes the clustering to the corpus
    assigned = sem_assignments(base, base.count())
    return recompute_centroids(assigned, base, "vec_id", "embedding")


def frozen_centroids(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(cluster, centroid) — the frozen base-snapshot centroid table the
    delta-assignment family scores against; see the block comment."""
    if os.environ.get("SPARK_GRAFT_EMB_INDEX", "1") == "0":
        return _centroid_frame(spark, sf_dir)
    return _materialized(
        spark,
        EMB_INDEX_DIR,
        _centroid_fingerprint(sf_dir),
        lambda: _centroid_frame(spark, sf_dir),
        rebuild,
    )


# --- centroid GENERATIONS + refresh (q228, VERDICT r13 item 1) --------------
#
# The frozen base-snapshot centroids never retrain: as the corpus grows
# they drift unboundedly from the data — the one component of the 24/7
# embedding-index story that stayed permanently stale (the reference
# rebuilds its indexes after every load: main.rs:105-107 via
# sql/indexes.sql, so ITS access paths never drift). The refresh job
# retrains on the FULL corpus (base + accumulated delta) with the same
# Lloyd stack, lands the new centroid table as a NEW GENERATION of a
# pointer-swapped artifact, and q228 emits the reassignment delta
# (vectors whose nearest centroid changed, old -> new). Generation
# discipline: each generation directory is named by the md5 of its
# TRAINING-INPUT fingerprint (corpus file identity + snapshot scope +
# every constant the lineage branches on), the CURRENT pointer file is
# swapped with os.replace (atomic on POSIX — a reader resolving the
# pointer sees exactly the old or exactly the new name, never a partial
# write), and the superseded generation is deleted only AFTER the swap
# (tests/test_index_refresh.py pins the exactly-one-version invariant at
# every step boundary via the _probe hook).


def _refresh_version() -> str:
    from .similarity import SEM_CELL, SEM_ITER, SEM_K, SEM_TWO_LEVEL_MIN

    return (
        f"cent-v1:semk{SEM_K}-semcell{SEM_CELL}-iter{SEM_ITER}"
        f"-2lvl{SEM_TWO_LEVEL_MIN}-full"
    )


def _refresh_fingerprint(sf_dir: str) -> str:
    return _fingerprint(sf_dir, _refresh_version())


def _full_centroid_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster, centroid) retrained on the FULL corpus — the refresh
    target: the same construction as _centroid_frame without the base
    filter, so the SQL dual is the same Lloyd CTE chain over the whole
    embeddings table."""
    from ..operators.clustering import recompute_centroids
    from ..session import load_tables
    from .similarity import sem_assignments

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    # bounded: 1-row count-star scalar sizes the clustering to the corpus
    assigned = sem_assignments(emb, emb.count())
    return recompute_centroids(assigned, emb, "vec_id", "embedding")


def _centgen_root(sf_dir: str) -> str:
    """Per-corpus generation store: g_<trainkey> dirs + CURRENT pointer."""
    corpus = source_key(os.path.join(sf_dir, "embeddings.parquet"))
    return os.path.join(EMB_INDEX_DIR, f"centgen_{corpus}")


def current_centroid_generation(sf_dir: str) -> str | None:
    """The generation dir name the CURRENT pointer resolves to, or None
    when the store has never been seeded. Readers resolve ONCE and read
    that directory — the swap never mutates a generation in place."""
    ptr = os.path.join(_centgen_root(sf_dir), "CURRENT")
    try:
        with open(ptr, encoding="utf-8") as f:
            return f.read().strip()
    except OSError:
        return None


def _swap_pointer(root: str, gen_name: str) -> None:
    """Atomic pointer swap: write-aside + os.replace, so a concurrent
    reader of CURRENT sees exactly one complete generation name."""
    ptr = os.path.join(root, "CURRENT")
    tmp = f"{ptr}.tmp.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(gen_name)
    os.replace(tmp, ptr)


def _land_generation(root: str, gen_name: str, frame_fn) -> None:
    """Publish a generation directory whole (artifacts.publish_once)."""
    publish_once(
        os.path.join(root, gen_name), lambda tmp: frame_fn().write.parquet(tmp)
    )


def refresh_centroids(
    spark: SparkSession, sf_dir: str, rebuild: bool = False, _probe=None
) -> DataFrame:
    """(cluster, centroid) — the CURRENT generation after running the
    refresh cycle: seed the store with the frozen base-snapshot
    generation if empty, retrain on the full corpus, land the new
    generation, swap the pointer, delete the superseded generation.
    Idempotent: when CURRENT already points at the full-corpus
    generation the call is a pure read. ``_probe(step)`` is a test hook
    invoked at the step boundaries ('seeded', 'landed', 'swapped',
    'cleaned') so the generation-swap safety test can assert the
    exactly-one-complete-version invariant mid-cycle; it is None in
    production paths. SPARK_GRAFT_EMB_INDEX=0 recomputes the refreshed
    table in-plan (referee mode, no store)."""
    import shutil

    if os.environ.get("SPARK_GRAFT_EMB_INDEX", "1") == "0":
        return _full_centroid_frame(spark, sf_dir)

    root = _centgen_root(sf_dir)
    if rebuild:
        # bench/probe prebuilds time the WHOLE cycle from an empty
        # store (seed train + full retrain + land + swap) — wipe so the
        # timed value is real work, not an idempotent pointer read
        shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    base_gen = (
        "g_" + hashlib.md5(_centroid_fingerprint(sf_dir).encode()).hexdigest()[:12]
    )
    full_gen = (
        "g_" + hashlib.md5(_refresh_fingerprint(sf_dir).encode()).hexdigest()[:12]
    )
    cur = current_centroid_generation(sf_dir)
    if cur is None:
        # seed generation 0 = the frozen base-snapshot centroids — read
        # from the cent_<key> artifact when it exists (identical frame,
        # same fingerprint lineage) instead of re-running the base Lloyd
        # training per seed (r14 review finding: every rebuild was
        # double-training); referee mode recomputes in-plan either way
        _land_generation(
            root, base_gen, lambda: frozen_centroids(spark, sf_dir)
        )
        _swap_pointer(root, base_gen)
        cur = base_gen
        if _probe is not None:
            _probe("seeded")
    if cur != full_gen:
        _land_generation(
            root, full_gen, lambda: _full_centroid_frame(spark, sf_dir)
        )
        if _probe is not None:
            _probe("landed")  # new gen complete on disk; pointer still old
        _swap_pointer(root, full_gen)
        if _probe is not None:
            _probe("swapped")  # pointer new; old gen still readable
        if cur != full_gen:
            shutil.rmtree(os.path.join(root, cur), ignore_errors=True)
        if _probe is not None:
            _probe("cleaned")
    # straggler sweep (r14 review finding): a crash between the pointer
    # swap and the delete would otherwise leak the superseded generation
    # forever — the idempotent path never revisited it. CURRENT points
    # at full_gen here, so anything else g_* (including orphaned
    # .tmp.* dirs from crashed landings) is garbage by contract.
    for entry in os.listdir(root):
        if entry.startswith("g_") and entry != full_gen:
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    return spark.read.parquet(os.path.join(root, full_gen))


# --- LSM read-merge artifacts for the embedding family (q230) ---------------
#
# The read path between compactions needs BOTH sides as artifacts (the
# q227 discipline — no re-derivation in the consumer's plan): the BASE
# side is the Lloyd-final assignment of the base snapshot (computed by
# the same training run that froze the centroids — at ingest they are
# one job's two outputs), the DELTA side is the accumulated
# delta-assignment landing (the q225 composition's per-vector labels —
# what q226's streamed maintainer lands batch by batch, here as the
# whole-delta artifact a compaction would produce).


def base_assignments(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, cluster) — the base snapshot's Lloyd-final assignment
    (sem_assignments over the base corpus: the SEM_ITER-th assignment,
    whose per-cluster means ARE the frozen centroids). Same fingerprint
    discipline and SPARK_GRAFT_EMB_INDEX=0 referee as frozen_centroids."""
    from pyspark.sql import functions as F

    from ..session import load_tables
    from .dedup import NEW_MOD, NEW_REM
    from .similarity import sem_assignments

    def frame() -> DataFrame:
        emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        base = emb.filter((F.col("vec_id") % NEW_MOD) != NEW_REM)
        # bounded: 1-row count-star scalar sizes the clustering
        return sem_assignments(base, base.count()).select("vec_id", "cluster")

    if os.environ.get("SPARK_GRAFT_EMB_INDEX", "1") == "0":
        return frame()
    fp = f"{_centroid_fingerprint(sf_dir)}|basea"
    return _materialized(spark, EMB_INDEX_DIR, fp, frame, rebuild)


def emb_delta_landing(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, cluster, via_exact) — the delta snapshot's COMPLETE
    assignment labels (similarity.complete_delta_labels: q225's
    multiprobe cheap path + exact argmax for the bucket-miss residue)
    as a cached artifact: the accumulated landing a consumer merges
    with base_assignments between compactions (q230). Same fingerprint
    discipline and referee switch as the other embedding artifacts."""

    def frame() -> DataFrame:
        from .similarity import complete_delta_labels

        return complete_delta_labels(spark, sf_dir)

    if os.environ.get("SPARK_GRAFT_EMB_INDEX", "1") == "0":
        return frame()
    fp = f"{_centroid_fingerprint(sf_dir)}|deltalab"
    return _materialized(spark, EMB_INDEX_DIR, fp, frame, rebuild)


# --- refresh-apply artifacts (q231) ------------------------------------------
#
# The refresh cycle's CONSUMER side holds two artifacts: the full-corpus
# assignment under the OLD (frozen) centroids — the cluster-keyed state
# every downstream table is organized by — and the reassignment delta
# the refresh emitted (q228's output, materialized). q231 proves the
# delta is SUFFICIENT: patching the old state with it reproduces the
# new-centroid state exactly, without re-running any argmax.


def full_assignments(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, cluster) — EVERY corpus vector's exact argmax against
    the FROZEN (old) centroids: the consumer's cluster-keyed state
    before a refresh lands. Distinct from base_assignments (the base
    snapshot's Lloyd-final labels): this is the old index's answer for
    the whole corpus, base + delta alike. Same fingerprint discipline
    and SPARK_GRAFT_EMB_INDEX=0 referee as the other artifacts."""
    from ..operators.clustering import assign_clusters
    from ..session import load_tables

    def frame() -> DataFrame:
        from .similarity import DIM

        emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        return assign_clusters(
            emb, frozen_centroids(spark, sf_dir), "vec_id", "embedding", DIM
        ).select("vec_id", "cluster")

    if os.environ.get("SPARK_GRAFT_EMB_INDEX", "1") == "0":
        return frame()
    fp = f"{_centroid_fingerprint(sf_dir)}|fulla"
    return _materialized(spark, EMB_INDEX_DIR, fp, frame, rebuild)


def reassignment_delta(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    """(vec_id, old_cluster, new_cluster) — q228's reassignment delta as
    the artifact the refresh job ships to consumers: every vector whose
    exact argmax moved between the frozen and the refreshed centroid
    generations. Keyed on the REFRESH fingerprint (it depends on both
    generations' training inputs)."""
    from ..operators.clustering import assign_clusters
    from ..session import load_tables

    def frame() -> DataFrame:
        from pyspark.sql import functions as F

        from .similarity import DIM

        emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        # the old side IS full_assignments (identical computation, same
        # fingerprint lineage) — read the artifact instead of re-running
        # the corpus-sized argmax per rebuild (r14 review finding: the
        # builds were paying it twice); referee mode recomputes in-plan
        olda = full_assignments(spark, sf_dir).select(
            "vec_id", F.col("cluster").alias("old_cluster")
        )
        newa = assign_clusters(
            emb, refresh_centroids(spark, sf_dir), "vec_id", "embedding", DIM
        ).select("vec_id", F.col("cluster").alias("new_cluster"))
        return (
            olda.join(newa, "vec_id")
            .filter(F.col("old_cluster") != F.col("new_cluster"))
            .select("vec_id", "old_cluster", "new_cluster")
        )

    if os.environ.get("SPARK_GRAFT_EMB_INDEX", "1") == "0":
        return frame()
    # BOTH lineages fold in (r14 review finding): the old side depends
    # on the frozen-centroid fingerprint (which versions NEW_MOD/NEW_REM
    # — a changed base split changes every old_cluster label), the new
    # side on the refresh fingerprint; keying on the refresh side alone
    # could serve a stale delta after a split-constant change
    fp = f"{_centroid_fingerprint(sf_dir)}|{_refresh_fingerprint(sf_dir)}|redelta"
    return _materialized(spark, EMB_INDEX_DIR, fp, frame, rebuild)
