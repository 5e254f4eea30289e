"""Persistent ANN index (jobs.retrieval): exact parity with ivf_topk,
file-level partition pruning on the probed centroids, sidecar
round-trip, and a metadata plane (JSON sidecars, footer-schema scans)
that runs no Spark job."""

from __future__ import annotations

import glob
import os
import struct
import uuid

from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.jobs import retrieval as rt
from bohemia_kenya_data_pipeline_spark.operators import similarity as sim
from tests.conftest import force_ivf_kernel


def _toy_corpus(spark, n=400, dim=8):
    return spark.range(1, n + 1).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: ((F.col("id") * 37 + j * 11) % 19 - 9.0) / 9.0,
        ).alias("embedding"),
    )


def test_index_query_matches_ivf_topk_exactly(spark, tmp_path):
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    path = str(tmp_path / "idx")
    cents = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    got = rt.query_ann_index(spark, path, queries, k=5, n_probe=2)
    want = sim.ivf_topk(
        corpus, queries, k=5, n_centroids=4, n_probe=2, centroids=cents
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # sidecar round-trips the exact centroids
    assert rt.load_ann_centroids(spark, path) == [list(map(float, c)) for c in cents]


def test_index_scan_prunes_unprobed_partitions(spark, tmp_path):
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") == 40)  # one query: n_probe dirs
    path = str(tmp_path / "idx2")
    cents = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    assert len(glob.glob(f"{path}/cid=*")) == 4  # all buckets materialized
    out = rt.query_ann_index(spark, path, queries, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the probed-cid filter reaches the scan as a PARTITION filter
    # (directory-level skip), not a post-scan row filter
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters", 1)[1][:200]
    assert out.count() == 3


def test_index_build_accepts_pretrained_and_drops_nulls(spark, tmp_path):
    corpus = _toy_corpus(spark, n=50).unionByName(
        spark.createDataFrame([(999, None)], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    )
    path = str(tmp_path / "idx3")
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    out = rt.build_ann_index(corpus, path, centroids=cents)
    assert out == cents
    stored = spark.read.parquet(path)
    assert stored.count() == 50  # NULL embedding never indexed
    assert stored.filter(F.col("vec_id") == 999).count() == 0


def test_extend_ann_index_equals_rebuild(spark, tmp_path):
    corpus = _toy_corpus(spark, n=300)
    late = _toy_corpus(spark, n=400).filter(F.col("vec_id") > 300)
    queries = corpus.filter(F.col("vec_id") % 60 == 0)
    path = str(tmp_path / "idx_grow")
    cents = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    rt.extend_ann_index(late, path)
    got = rt.query_ann_index(spark, path, queries, k=5, n_probe=2)
    # a rebuild over the full corpus with the SAME centroids must agree
    path2 = str(tmp_path / "idx_full")
    rt.build_ann_index(_toy_corpus(spark, n=400), path2, centroids=cents)
    want = rt.query_ann_index(spark, path2, queries, k=5, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert spark.read.parquet(path).count() == 400


def test_arrow_assignment_parity_with_fold(spark, tmp_path, monkeypatch):
    """The Arrow kernel (numpy argmax) writes a hash-identical index to
    the _nearest_cid expression fold — same rows, same cids, same
    partition layout — at a C x D where the engine picks Arrow
    (VERDICT r7 ask 1)."""
    corpus = _toy_corpus(spark, n=600, dim=16)
    cents = sim.ivf_train_centroids(
        corpus, n_centroids=64, n_iters=2
    )
    assert len(cents) * len(cents[0]) >= sim.ARROW_ASSIGN_MIN_CXD
    p_fold = str(tmp_path / "fold")
    p_arrow = str(tmp_path / "arrow")
    force_ivf_kernel(monkeypatch, "fold")
    rt.build_ann_index(corpus, p_fold, centroids=cents)
    force_ivf_kernel(monkeypatch, "arrow")
    rt.build_ann_index(corpus, p_arrow, centroids=cents)

    def snap(path):
        rows = spark.read.parquet(path).collect()
        return sorted((r.vec_id, int(r.cid), tuple(r.embedding)) for r in rows)

    a, b = snap(p_fold), snap(p_arrow)
    assert a == b and len(a) == 600
    # partition layout identical too (file-level pruning contract)
    import os

    dirs = lambda p: sorted(os.path.basename(x) for x in glob.glob(f"{p}/cid=*"))
    assert dirs(p_fold) == dirs(p_arrow)


def test_assign_auto_threshold_and_extend_parity(spark, tmp_path, monkeypatch):
    """The engine picks the fold below ARROW_ASSIGN_MIN_CXD and Arrow
    at/above it (read at call time); extend with the Arrow kernel
    appends the same rows the fold kernel would."""
    from bohemia_kenya_data_pipeline_spark import plans as P

    corpus = _toy_corpus(spark, n=200, dim=16)
    small = [[1.0] + [0.0] * 15, [0.0] * 15 + [1.0]]  # 2x16 = 32 < 1024
    big = [[float(i == j % 16) for j in range(16)] for i in range(64)]  # 1024
    assert not sim._arrow_kernel(small) and sim._arrow_kernel(big)
    arrow_nodes = lambda c: P.plan_stats(sim.assign_centroids(corpus, c))[
        "arrow_python_nodes"
    ]
    assert arrow_nodes(small) == 0 and arrow_nodes(big) == 1
    force_ivf_kernel(monkeypatch, "arrow")
    assert sim._arrow_kernel(small) and arrow_nodes(small) == 1
    monkeypatch.undo()
    path = str(tmp_path / "auto_small")
    rt.build_ann_index(corpus, path, centroids=small)  # must not need Arrow
    assert len(rt.load_ann_centroids(spark, path)) == 2

    # extend: arrow vs fold parity on the appended delta
    cents = sim.ivf_train_centroids(corpus, n_centroids=64, n_iters=2)
    delta = _toy_corpus(spark, n=700, dim=16).filter(F.col("vec_id") > 600)
    p1, p2 = str(tmp_path / "e_fold"), str(tmp_path / "e_arrow")
    force_ivf_kernel(monkeypatch, "fold")
    rt.build_ann_index(corpus, p1, centroids=cents)
    rt.build_ann_index(corpus, p2, centroids=cents)
    rt.extend_ann_index(delta, p1)
    force_ivf_kernel(monkeypatch, "arrow")
    rt.extend_ann_index(delta, p2)
    s1 = sorted((r.vec_id, int(r.cid)) for r in spark.read.parquet(p1).collect())
    s2 = sorted((r.vec_id, int(r.cid)) for r in spark.read.parquet(p2).collect())
    assert s1 == s2 and len(s1) == 300  # 200 corpus + 100 appended


def test_assign_centroids_arrow_passthrough_and_guards(spark):
    """The kernel passes non-vector columns through untouched, drops
    NULL vectors, and refuses an out_col collision."""
    import pytest

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.0, 1.0], "b"), (3, None, "c")],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, tag STRING",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = sim.assign_centroids_arrow(df, cents).orderBy("vec_id").collect()
    assert [(r.vec_id, r.cid, r.tag) for r in out] == [(1, 0, "a"), (2, 1, "b")]
    with pytest.raises(ValueError, match="already exists"):
        sim.assign_centroids_arrow(df.withColumn("cid", F.lit(1)), cents)


def test_build_train_kernel_auto_and_parity(spark, tmp_path, monkeypatch):
    """build_ann_index's implicit training picks the Arrow trainer at
    production C and both trainers yield the same index content on the
    fixture (identical Lloyd fixed point -> identical assignments)."""
    corpus = _toy_corpus(spark, n=300, dim=16)
    p1, p2 = str(tmp_path / "tf"), str(tmp_path / "ta")
    force_ivf_kernel(monkeypatch, "fold")
    c_fold = rt.build_ann_index(corpus, p1, n_centroids=4, n_iters=2)
    force_ivf_kernel(monkeypatch, "arrow")
    c_arrow = rt.build_ann_index(corpus, p2, n_centroids=4, n_iters=2)
    monkeypatch.undo()
    assert len(c_fold) == len(c_arrow) == 4
    s1 = sorted((r.vec_id, int(r.cid)) for r in spark.read.parquet(p1).collect())
    s2 = sorted((r.vec_id, int(r.cid)) for r in spark.read.parquet(p2).collect())
    assert s1 == s2 and len(s1) == 300

    # the real threshold: C=64 trains via Arrow end-to-end and the
    # index queries
    p3 = str(tmp_path / "auto64")
    cents = rt.build_ann_index(corpus, p3, n_centroids=64, n_iters=1)
    assert len(cents) == 64
    q = corpus.filter(F.col("vec_id") % 100 == 0)
    out = rt.query_ann_index(spark, p3, q, k=3, n_probe=64)
    want = sim.cosine_topk(corpus, q, k=3)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


# ---------------------------------------------------------------------------
# IVF-PQ index: compressed codes on disk, ADC + exact rerank
# ---------------------------------------------------------------------------


def _toy_codebooks(dim=8, m=4, k=8):
    return sim.pq_codebooks(dim, m, k)


def test_ivfpq_adc_matches_pq_topk_under_exhaustive_probes(spark, tmp_path):
    # n_probe = n_centroids: partition pruning keeps everything, the
    # per-query cid restriction is vacuous, so ADC over the persisted
    # codes must equal pq_topk over the raw corpus exactly
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    cb = _toy_codebooks()
    path = str(tmp_path / "pqidx")
    cents = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4,
             [0.0] * 7 + [1.0], [0.5] * 8]
    rt.build_ivfpq_index(corpus, path, centroids=cents, codebooks=cb)
    got = rt.query_ivfpq_index(spark, path, queries, k=5, n_probe=len(cents))
    want = sim.pq_topk(corpus, queries, cb, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivfpq_rerank_exhaustive_equals_exact_brute_force(spark, tmp_path):
    # exhaustive probes + rerank pool >= corpus: the two-stage path
    # degenerates to exact cosine_topk — the recall-repair ceiling
    corpus = _toy_corpus(spark, n=120)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    cb = _toy_codebooks()
    path = str(tmp_path / "pqidx_rr")
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    rt.build_ivfpq_index(
        corpus, path, centroids=cents, codebooks=cb, store_vec=True
    )
    got = rt.query_ivfpq_index(
        spark, path, queries, k=5, n_probe=2, rerank=200
    )
    want = sim.cosine_topk(corpus, queries, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivfpq_rerank_requires_stored_vectors(spark, tmp_path):
    import pytest

    corpus = _toy_corpus(spark, n=60)
    cb = _toy_codebooks()
    path = str(tmp_path / "pqidx_novec")
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    rt.build_ivfpq_index(corpus, path, centroids=cents, codebooks=cb)
    with pytest.raises(ValueError, match="store_vec"):
        rt.query_ivfpq_index(
            spark, path, corpus.limit(2), k=3, n_probe=2, rerank=10
        ).collect()


def test_ivfpq_index_is_compressed_and_prunes_partitions(spark, tmp_path):
    import os as _os

    # high-entropy vectors (xxhash64-derived, ~unique doubles): the
    # _toy_corpus LCG has 19 distinct values per position, which
    # dictionary-encodes to almost nothing and hides the code/vector
    # size gap; real embeddings are incompressible, like these
    corpus = (
        spark.range(1, 6001)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda j: F.pmod(F.xxhash64(F.col("id") * 131 + j), F.lit(100000))
                / 50000.0
                - 1.0,
            ).alias("embedding"),
        )
        .coalesce(2)
    )
    cb = _toy_codebooks()
    pq_path = str(tmp_path / "pq_small")
    raw_path = str(tmp_path / "raw_big")
    cents = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4,
             [0.0] * 7 + [1.0], [0.5] * 8]
    rt.build_ivfpq_index(corpus, pq_path, centroids=cents, codebooks=cb)
    rt.build_ann_index(corpus, raw_path, centroids=cents)

    def _bytes(root):
        return sum(
            _os.path.getsize(_os.path.join(d, f))
            for d, _, fs in _os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    # codes (4 ints) vs vectors (8 doubles): the pq layout must be
    # materially smaller on disk, not just in theory
    assert _bytes(pq_path) < 0.7 * _bytes(raw_path)

    # sidecar round-trip
    assert rt.load_pq_codebooks(spark, pq_path) == [
        [[float(x) for x in cw] for cw in book] for book in cb
    ]

    # probed-cid filter reaches the scan as a partition filter
    queries = corpus.filter(F.col("vec_id") == 40)
    out = rt.query_ivfpq_index(spark, pq_path, queries, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cid" in plan.split("PartitionFilters", 1)[1][:200]


def test_pq_adc_topk_probe_restricts_candidates_per_query(spark):
    # two well-separated clusters: with n_probe=1 each query may only
    # see neighbors from its own centroid's bucket
    corpus = _toy_corpus(spark, n=100)
    cb = _toy_codebooks()
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    assigned = corpus.withColumn(
        "cid", sim._nearest_cid(sim._as_double("embedding"), sim._centroid_literal(cents))
    )
    codes = sim.pq_encode(assigned, cb, extra_cols=("cid",)).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    queries = corpus.filter(F.col("vec_id") % 25 == 0)
    got = sim.pq_adc_topk(codes, queries, cb, k=50, probe=(cents, 1))
    cid_of = {
        r.neighbor_id: r.cid for r in codes.select("neighbor_id", "cid").collect()
    }
    qcid = {
        r.vec_id: r.cid
        for r in assigned.select("vec_id", "cid")
        .filter(F.col("vec_id") % 25 == 0)
        .collect()
    }
    for r in got.collect():
        assert cid_of[r.neighbor_id] == qcid[r.query_id]


def test_ivfpq_rerank_pool_smaller_than_k_raises(spark, tmp_path):
    # regression for the r9 guard (retrieval.py): a rerank pool
    # smaller than k would silently return `rerank` rows per query
    import pytest

    corpus = _toy_corpus(spark, n=60)
    path = str(tmp_path / "pqidx_guard")
    rt.build_ivfpq_index(
        corpus, path, centroids=[[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]],
        codebooks=_toy_codebooks(), store_vec=True,
    )
    with pytest.raises(ValueError, match="rerank=3 must be >= k=5"):
        rt.query_ivfpq_index(
            spark, path, corpus.limit(2), k=5, n_probe=2, rerank=3
        )


def test_extend_ivfpq_index_equals_rebuild(spark, tmp_path):
    # extension exactness for the compressed layout: sidecar-driven
    # assignment + encoding of the delta must answer exactly like a
    # full rebuild, with AND without stored vectors / rerank
    full = _toy_corpus(spark, n=400)
    base = full.filter(F.col("vec_id") <= 300)
    late = full.filter(F.col("vec_id") > 300)
    queries = full.filter(F.col("vec_id") % 60 == 0)
    cb = _toy_codebooks()
    cents = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4,
             [0.0] * 7 + [1.0], [0.5] * 8]
    for store_vec, rerank in ((False, 0), (True, 20)):
        pe = str(tmp_path / f"pq_ext_{store_vec}")
        pf = str(tmp_path / f"pq_full_{store_vec}")
        rt.build_ivfpq_index(
            base, pe, centroids=cents, codebooks=cb, store_vec=store_vec
        )
        rt.extend_ivfpq_index(late, pe)
        rt.build_ivfpq_index(
            full, pf, centroids=cents, codebooks=cb, store_vec=store_vec
        )
        got = rt.query_ivfpq_index(
            spark, pe, queries, k=5, n_probe=2, rerank=rerank
        )
        want = rt.query_ivfpq_index(
            spark, pf, queries, k=5, n_probe=2, rerank=rerank
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), (store_vec, rerank)
        assert spark.read.parquet(pe).count() == 400
        # appended rows carry the vector column iff the index does
        assert ("embedding" in spark.read.parquet(pe).columns) == store_vec


# ---------------------------------------------------------------------------
# Tombstone deletes: mutable-corpus serving without index rewrites
# ---------------------------------------------------------------------------


def test_delete_equals_index_built_over_survivors_ann(spark, tmp_path):
    # the strong contract: after delete_from_index, queries answer
    # EXACTLY as if the index had been built over the surviving
    # corpus with the same centroids — deleted ids never surface and
    # never displace a survivor's rank
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    deleted = corpus.filter(F.col("vec_id") % 7 == 3)
    path = str(tmp_path / "del_ann")
    cents = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    rt.delete_from_index(deleted, path)
    got = rt.query_ann_index(spark, path, queries, k=5, n_probe=2)
    path2 = str(tmp_path / "del_ann_want")
    rt.build_ann_index(
        corpus.filter(F.col("vec_id") % 7 != 3), path2, centroids=cents
    )
    want = rt.query_ann_index(spark, path2, queries, k=5, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert (
        got.filter(F.col("neighbor_id") % 7 == 3).count() == 0
    )  # no tombstoned id surfaces
    # the cid partitions were NOT rewritten (delta-sized delete)
    assert spark.read.parquet(path).count() == 400


def test_delete_equals_survivor_index_ivfpq_with_rerank(spark, tmp_path):
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    cb = _toy_codebooks()
    cents = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4,
             [0.0] * 7 + [1.0], [0.5] * 8]
    path = str(tmp_path / "del_pq")
    rt.build_ivfpq_index(
        corpus, path, centroids=cents, codebooks=cb, store_vec=True
    )
    rt.delete_from_index(corpus.filter(F.col("vec_id") % 7 == 3), path)
    path2 = str(tmp_path / "del_pq_want")
    rt.build_ivfpq_index(
        corpus.filter(F.col("vec_id") % 7 != 3), path2,
        centroids=cents, codebooks=cb, store_vec=True,
    )
    for rerank in (0, 20):
        got = rt.query_ivfpq_index(
            spark, path, queries, k=5, n_probe=2, rerank=rerank
        )
        want = rt.query_ivfpq_index(
            spark, path2, queries, k=5, n_probe=2, rerank=rerank
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), rerank


def test_extend_readmission_compacts_so_no_duplicate_rows(spark, tmp_path):
    import os

    corpus = _toy_corpus(spark, n=300)
    path = str(tmp_path / "readd")
    rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    doomed = corpus.filter(F.col("vec_id") % 50 == 7)  # 6 ids
    rt.delete_from_index(doomed, path)
    # re-admitting tombstoned ids triggers an implicit compaction:
    # the stale stored rows are folded away BEFORE the append lands,
    # so no id ever has two rows behind it
    rt.extend_ann_index(doomed, path)
    assert spark.read.parquet(path).count() == 300  # no duplicate rows
    assert not os.path.exists(rt._tombstone_sidecar(path))
    got = rt.query_ann_index(spark, path, doomed.limit(1), k=3, n_probe=4)
    # with exhaustive probes the re-added neighbors are queryable
    assert got.count() == 3
    # steady-state extends (no re-admission) never pay the compaction:
    # a fresh-id append with live tombstones leaves the sidecar alone
    rt.delete_from_index(corpus.filter(F.col("vec_id") == 1), path)
    fresh = _toy_corpus(spark, n=310).filter(F.col("vec_id") > 300)
    rt.extend_ann_index(fresh, path)
    assert os.path.exists(rt._tombstone_sidecar(path))
    assert spark.read.parquet(path).count() == 310  # still masked, not folded


def test_compact_index_is_query_invisible_and_drops_sidecar(spark, tmp_path):
    import os

    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    path = str(tmp_path / "vac")
    rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    rt.delete_from_index(corpus.filter(F.col("vec_id") % 7 == 3), path)
    before = sorted(
        map(tuple, rt.query_ann_index(spark, path, queries, k=5, n_probe=2).collect())
    )
    rt.compact_index(spark, path)
    after = sorted(
        map(tuple, rt.query_ann_index(spark, path, queries, k=5, n_probe=2).collect())
    )
    assert before == after  # vacuum changes nothing a query can see
    assert not os.path.exists(rt._tombstone_sidecar(path))  # sidecar folded
    stored = spark.read.parquet(path)
    assert stored.count() == 400 - 57  # tombstoned rows physically gone
    assert stored.filter(F.col("vec_id") % 7 == 3).count() == 0
    assert len(glob.glob(f"{path}/cid=*")) > 0  # cid layout preserved


def test_rebuild_at_same_path_clears_stale_tombstones(spark, tmp_path):
    corpus = _toy_corpus(spark, n=200)
    path = str(tmp_path / "rebuild")
    cents = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=3)
    rt.delete_from_index(corpus.filter(F.col("vec_id") <= 100), path)
    # a rebuild is a new index: yesterday's tombstones must not hide
    # today's corpus
    rt.build_ann_index(corpus, path, centroids=cents)
    q = corpus.filter(F.col("vec_id") == 50)
    got = rt.query_ann_index(spark, path, q, k=5, n_probe=4)
    assert got.count() == 5
    import os

    assert not os.path.exists(rt._tombstone_sidecar(path))


def test_index_stats_reports_live_vs_stored_per_cid(spark, tmp_path):
    corpus = _toy_corpus(spark, n=200)
    path = str(tmp_path / "stats_ann")
    rt.build_ann_index(corpus, path, n_centroids=4, n_iters=2)
    # no tombstones: live == stored, shares sum to 1
    s0 = rt.index_stats(spark, path).collect()
    assert sum(r.stored_rows for r in s0) == 200
    assert all(r.live_rows == r.stored_rows for r in s0)
    assert abs(sum(r.live_share for r in s0) - 1.0) < 1e-4
    # tombstone a batch: stored unchanged, live drops by exactly the
    # per-cid tombstone counts (cross-checked from the index itself)
    rt.delete_from_index(corpus.filter(F.col("vec_id") % 4 == 1), path)
    dead_by_cid = {
        r.cid: r.n
        for r in spark.read.parquet(path)
        .filter(F.col("vec_id") % 4 == 1)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    s1 = {r.cid: r for r in rt.index_stats(spark, path).collect()}
    assert sum(r.stored_rows for r in s1.values()) == 200
    assert sum(r.live_rows for r in s1.values()) == 150
    for cid, r in s1.items():
        assert r.stored_rows - r.live_rows == dead_by_cid.get(cid, 0)
    # same spine works on the compressed layout
    cb = _toy_codebooks()
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    pqp = str(tmp_path / "stats_pq")
    rt.build_ivfpq_index(corpus, pqp, centroids=cents, codebooks=cb)
    sp = rt.index_stats(spark, pqp).collect()
    assert sum(r.stored_rows for r in sp) == 200


def test_index_ingest_drift_psi_separates_stable_from_drifted(spark, tmp_path):
    corpus = _toy_corpus(spark, n=400)
    path = str(tmp_path / "drift_ann")
    rt.build_ann_index(corpus, path, n_centroids=4, n_iters=2)
    # a batch drawn from the same generator: near-zero PSI per cid
    same = _toy_corpus(spark, n=800).filter(F.col("vec_id") > 400)
    stable = rt.index_ingest_drift(spark, path, same).collect()
    assert len(stable) == 4 and [r.cid for r in stable] == [0, 1, 2, 3]
    assert sum(r.psi_term for r in stable) < 0.1  # "stable" band
    assert abs(sum(r.batch_share for r in stable) - 1.0) < 1e-3
    # a batch collapsed onto ONE stored vector's bucket: drifted —
    # its cid gains mass, the others fall to the eps floor
    one = corpus.filter(F.col("vec_id") == 17)
    hot = one.collect()[0]
    drifted = rt.index_ingest_drift(
        spark, path, one.union(one).union(one).union(one)
    ).collect()
    total_psi = sum(r.psi_term for r in drifted)
    assert total_psi > 0.25  # "rebuild" band
    by_cid = {r.cid: r for r in drifted}
    # zero-mass cids sit on the eps floor, never NULL/NaN
    import math

    for r in drifted:
        assert r.batch_share >= 1e-4 and not math.isnan(r.psi_term)
    # the hot bucket carries the batch mass
    hot_cid = (
        spark.read.parquet(path).filter(F.col("vec_id") == hot.vec_id).collect()[0].cid
    )
    assert by_cid[hot_cid].batch_share > 0.99


def test_retrain_index_recenters_on_live_rows_only(spark, tmp_path):
    """retrain_index = warm-started Lloyd over the LIVE stored vectors
    + in-place rewrite: the refined centroids must match refining over
    the survivor corpus directly, the rewritten index must equal a
    fresh build over the survivors with those centroids, and the
    retrain must double as compaction (tombstones folded away)."""
    import os

    corpus = _toy_corpus(spark, n=200)
    path = str(tmp_path / "retrain_ann")
    cents0 = rt.build_ann_index(corpus, path, n_centroids=4, n_iters=2)
    rt.delete_from_index(corpus.filter(F.col("vec_id") % 4 == 1), path)
    survivors = corpus.filter(F.col("vec_id") % 4 != 1)
    new_cents = rt.retrain_index(spark, path, n_iters=2)
    want_cents = sim.ivf_refine_centroids(survivors, cents0, n_iters=2)
    assert len(new_cents) == len(want_cents) == 4
    for got_c, want_c in zip(new_cents, want_cents):
        for g, w in zip(got_c, want_c):
            assert abs(g - w) < 1e-9  # summation-order drift only
    # rewritten index == fresh build over survivors w/ the refined cents
    fresh = str(tmp_path / "fresh_ann")
    rt.build_ann_index(survivors, fresh, centroids=new_cents)
    got = sorted(
        map(tuple, spark.read.parquet(path).select("vec_id", "cid").collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(fresh).select("vec_id", "cid").collect())
    )
    assert got == want and len(got) == 150
    # sidecar holds the refined centroids; tombstones are gone;
    # stats agree (retrain doubled as compaction)
    assert rt.load_ann_centroids(spark, path) == [
        [float(x) for x in c] for c in new_cents
    ]
    assert not os.path.exists(rt._tombstone_sidecar(path))
    st = rt.index_stats(spark, path).collect()
    assert all(r.stored_rows == r.live_rows for r in st)
    assert sum(r.stored_rows for r in st) == 150
    # queries against the retrained index match the fresh-built one
    q = survivors.filter(F.col("vec_id") % 40 == 0)
    got_q = sorted(
        map(tuple, rt.query_ann_index(spark, path, q, k=3, n_probe=2).collect())
    )
    want_q = sorted(
        map(tuple, rt.query_ann_index(spark, fresh, q, k=3, n_probe=2).collect())
    )
    assert got_q == want_q


def test_retrain_index_rejects_pq_layout(spark, tmp_path):
    import pytest

    corpus = _toy_corpus(spark, n=100)
    cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    path = str(tmp_path / "retrain_pq")
    rt.build_ivfpq_index(corpus, path, centroids=cents, codebooks=_toy_codebooks())
    with pytest.raises(ValueError, match="build_ivfpq_index"):
        rt.retrain_index(spark, path)


def test_refine_kernels_agree_and_validate(spark, monkeypatch):
    import pytest

    corpus = _toy_corpus(spark, n=120)
    seed = [[1.0] + [0.0] * 7, [0.0] * 3 + [1.0] + [0.0] * 4]
    force_ivf_kernel(monkeypatch, "fold")
    fold = sim.ivf_refine_centroids(corpus, seed, n_iters=2)
    force_ivf_kernel(monkeypatch, "arrow")
    arrow = sim.ivf_refine_centroids(corpus, seed, n_iters=2)
    for fc, ac in zip(fold, arrow):
        for f_x, a_x in zip(fc, ac):
            assert abs(f_x - a_x) < 1e-9
    with pytest.raises(ValueError, match="empty"):
        sim.ivf_refine_centroids(corpus, [])


def test_maintain_vector_index_policy_ticks(spark, tmp_path):
    """One scheduler tick composes the monitoring signals into the
    documented decisions: stable batch -> plain extend; drifted batch
    -> retrain THEN extend; tombstone debt past the vacuum threshold
    -> compact; healthy index -> no action."""
    import os

    corpus = _toy_corpus(spark, n=400)
    path = str(tmp_path / "maint_ann")
    rt.build_ann_index(corpus, path, n_centroids=4, n_iters=2)
    # stable batch: same generator -> low PSI -> extend only
    batch1 = _toy_corpus(spark, n=500).filter(F.col("vec_id") > 400)
    r1 = rt.maintain_vector_index(spark, path, batch1)
    assert r1["psi"] is not None and r1["psi"] < 0.25
    assert r1["extended"] and not r1["retrained"] and not r1["compacted"]
    assert r1["ingested_rows"] == 100
    assert spark.read.parquet(path).count() == 500
    # RETRIED tick with the same batch: the live-id anti-join empties
    # the delta — no double-ingest, no PSI pass (ADVICE r10)
    r1b = rt.maintain_vector_index(spark, path, batch1)
    assert r1b["ingested_rows"] == 0 and not r1b["extended"]
    assert r1b["psi"] is None
    assert spark.read.parquet(path).count() == 500
    # drifted batch: everything collapses onto one stored vector's
    # bucket -> PSI past the rebuild band -> retrain before the extend
    one = corpus.filter(F.col("vec_id") == 17).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    drifted = one
    for k in range(1, 4):
        drifted = drifted.union(
            one.select((F.col("vec_id") + k).alias("vec_id"), "embedding")
        )
    r2 = rt.maintain_vector_index(spark, path, drifted)
    assert r2["psi"] > 0.25 and r2["retrained"] and r2["extended"]
    assert spark.read.parquet(path).count() == 504
    # tombstone debt: delete ~half, tick with no batch -> compaction
    rt.delete_from_index(
        spark.read.parquet(path).filter(F.col("vec_id") % 2 == 0), path
    )
    r3 = rt.maintain_vector_index(spark, path)
    assert r3["psi"] is None and r3["compacted"]
    assert r3["live_share"] < 0.8
    assert not os.path.exists(rt._tombstone_sidecar(path))
    # healthy index: the tick is a no-op
    r4 = rt.maintain_vector_index(spark, path)
    assert r4 == {
        "psi": None, "ingested_rows": 0, "retrained": False,
        "extended": False, "live_share": 1.0, "compacted": False,
    }


def test_maintain_pq_index_policy_ticks(spark, tmp_path):
    """The IVF-PQ maintenance tick (VERDICT r10 ask 4): extend is
    delta-sized and idempotent; drift past the rebuild band is
    REPORTED (rebuild_from_corpus) instead of retrained — PQ codes are
    lossy, only a corpus pass can rebuild — while the batch still
    lands; tombstone debt compacts; a healthy tick is a no-op."""
    import os

    corpus = _toy_corpus(spark, n=400, dim=16)
    path = str(tmp_path / "maint_pq")
    rt.build_ivfpq_index(
        corpus, path, n_centroids=4, n_subspaces=4, n_codewords=8, n_iters=2
    )
    cents_before = rt.load_ann_centroids(spark, path)
    # stable batch: same generator -> low PSI -> extend only
    batch1 = _toy_corpus(spark, n=500, dim=16).filter(F.col("vec_id") > 400)
    r1 = rt.maintain_pq_index(spark, path, batch1)
    assert r1["psi"] is not None and r1["psi"] < 0.25
    assert r1["ingested_rows"] == 100 and r1["extended"]
    assert not r1["rebuild_from_corpus"] and not r1["compacted"]
    assert spark.read.parquet(path).count() == 500
    # retried tick with the same batch: no double-ingest
    r1b = rt.maintain_pq_index(spark, path, batch1)
    assert r1b["ingested_rows"] == 0 and not r1b["extended"]
    assert spark.read.parquet(path).count() == 500
    # drifted batch: PSI past the band -> flagged, NOT retrained (the
    # centroid sidecar is untouched) -- and the batch still lands
    one = corpus.filter(F.col("vec_id") == 17).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    drifted = one
    for k in range(1, 4):
        drifted = drifted.union(
            one.select((F.col("vec_id") + k).alias("vec_id"), "embedding")
        )
    r2 = rt.maintain_pq_index(spark, path, drifted)
    assert r2["psi"] > 0.25 and r2["rebuild_from_corpus"] and r2["extended"]
    assert rt.load_ann_centroids(spark, path) == cents_before
    assert spark.read.parquet(path).count() == 504
    # tombstone debt: delete ~half, tick with no batch -> compaction
    rt.delete_from_index(
        spark.read.parquet(path).filter(F.col("vec_id") % 2 == 0), path
    )
    r3 = rt.maintain_pq_index(spark, path)
    assert r3["psi"] is None and r3["compacted"]
    assert r3["live_share"] < 0.8
    assert not os.path.exists(rt._tombstone_sidecar(path))
    # healthy index: the tick is a no-op
    r4 = rt.maintain_pq_index(spark, path)
    assert r4 == {
        "psi": None, "ingested_rows": 0, "rebuild_from_corpus": False,
        "extended": False, "live_share": 1.0, "compacted": False,
    }
    # queries keep working through the whole lifecycle (ADC over the
    # surviving codes; probe everything so the check is exact-shape)
    out = rt.query_ivfpq_index(
        spark, path, corpus.filter(F.col("vec_id") == 3), k=3, n_probe=4
    )
    assert out.count() == 3


# ---------------------------------------------------------------------------
# Metadata plane: sidecars and schema reads run no Spark job
# ---------------------------------------------------------------------------


def _spark_jobs(spark, fn):
    """``(fn(), number of Spark jobs it ran)``, counted through the
    status tracker in a job group of its own."""
    sc = spark.sparkContext
    group = f"metadata-plane-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bits(xs):
    return [struct.pack("<d", x) for x in xs]


#: doubles a text round trip gets wrong when it is not shortest-repr
#: exact: a non-representable sum, a signed zero, a subnormal
_TRICKY = [0.1 + 0.2, -0.0, 5e-324]


def _tricky_state():
    cents = [_TRICKY + [1.0] + [0.0] * 4, [0.0] * 3 + [1.0] + [0.0] * 4,
             [0.0] * 7 + [1.0], [0.5] * 8]
    cb = [[list(cw) for cw in book] for book in _toy_codebooks()]
    cb[0][0] = _TRICKY[:2]
    cb[1][3] = [_TRICKY[2], -0.0]
    return cents, cb


def test_ivfpq_sidecars_round_trip_bit_exactly(spark, tmp_path):
    cents, cb = _tricky_state()
    path = str(tmp_path / "pq_bits")
    rt.build_ivfpq_index(_toy_corpus(spark), path, centroids=cents, codebooks=cb)
    got_c = rt.load_ann_centroids(spark, path)
    got_cb = rt.load_pq_codebooks(spark, path)
    assert [_bits(c) for c in got_c] == [_bits(c) for c in cents]
    assert [[_bits(cw) for cw in book] for book in got_cb] == [
        [_bits(cw) for cw in book] for book in cb
    ]


def test_ivfpq_metadata_plane_runs_no_spark_job(spark, tmp_path):
    """Sidecar loads add no job at all, and the lifecycle calls run only
    their data jobs: build and extend = the partitioned index write,
    query = the probed-cid collect — also with a tombstone sidecar,
    whose schema comes from its footer, not an inference job."""
    cents, cb = _tricky_state()
    full = _toy_corpus(spark, n=400)
    queries = full.filter(F.col("vec_id") % 60 == 0)
    path = str(tmp_path / "pq_jobs")
    _, n_build = _spark_jobs(
        spark,
        lambda: rt.build_ivfpq_index(
            full.filter(F.col("vec_id") <= 300), path, centroids=cents, codebooks=cb
        ),
    )
    assert n_build == 1
    assert _spark_jobs(spark, lambda: rt.load_ann_centroids(spark, path))[1] == 0
    assert _spark_jobs(spark, lambda: rt.load_pq_codebooks(spark, path))[1] == 0
    _, n_extend = _spark_jobs(
        spark, lambda: rt.extend_ivfpq_index(full.filter(F.col("vec_id") > 300), path)
    )
    assert n_extend == 1
    # the query's only action: the distinct probed-cid collect
    _, n_probe = _spark_jobs(
        spark,
        lambda: queries.select(
            F.explode(sim.probe_cids_expr(sim._as_double("embedding"), cents, 2))
        ).distinct().collect(),
    )
    _, n_query = _spark_jobs(
        spark, lambda: rt.query_ivfpq_index(spark, path, queries, k=5, n_probe=2)
    )
    assert n_query == n_probe
    rt.delete_from_index(full.filter(F.col("vec_id") % 7 == 0), path)
    _, n_query = _spark_jobs(
        spark, lambda: rt.query_ivfpq_index(spark, path, queries, k=5, n_probe=2)
    )
    assert n_query == n_probe


def test_ivfpq_sidecar_crash_leaving_only_tmp_self_heals(spark, tmp_path):
    """The Hadoop writer deletes the old sidecar before renaming the
    temp file in; a crash between the two leaves only ``<sidecar>__tmp``.
    The next load promotes it, and the query answers identically."""
    cents, cb = _tricky_state()
    corpus = _toy_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    path = str(tmp_path / "pq_crash")
    rt.build_ivfpq_index(corpus, path, centroids=cents, codebooks=cb)
    want = sorted(map(tuple, rt.query_ivfpq_index(spark, path, queries, k=5).collect()))
    sidecars = [rt._centroid_sidecar(path), rt._codebook_sidecar(path)]
    for side in sidecars:
        os.replace(side, side + "__tmp")
    got = sorted(map(tuple, rt.query_ivfpq_index(spark, path, queries, k=5).collect()))
    assert got == want
    for side in sidecars:
        assert os.path.isfile(side) and not os.path.exists(side + "__tmp")
    assert [_bits(c) for c in rt.load_ann_centroids(spark, path)] == [
        _bits(c) for c in cents
    ]
