"""Goldens for the ANN paths: IVF recall in the approximate regime and
exactness in the exhaustive regime (the oracle covers exhaustive at
sf0.01; these run at sf0.001 for speed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.operators import similarity as sim
from tests.conftest import SF_DIR, force_ivf_kernel


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_ivf_exhaustive_probe_equals_exact(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.query_id, r.neighbor_id, r.score, r.rank)
        for r in sim.cosine_topk(emb, queries, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id, r.score, r.rank)
        for r in sim.ivf_topk(emb, queries, k=5, n_centroids=4, n_probe=4, n_iters=2).collect()
    }
    assert exact == ivf


def test_ivf_approximate_recall(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = sim.cosine_topk(emb, queries, k=5).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    got = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=4, n_iters=3).collect()
    }
    recall = len(truth & got) / len(truth)
    # probing half the buckets on clustered data should recover most
    # true neighbors; the bound is intentionally loose (synthetic
    # near-uniform embeddings are ANN's worst case)
    assert recall >= 0.4, recall


def test_ivf_training_deterministic(spark):
    emb = _emb(spark)
    c1 = sim.ivf_train_centroids(emb, n_centroids=4, n_iters=2)
    c2 = sim.ivf_train_centroids(emb.repartition(7), n_centroids=4, n_iters=2)
    assert c1 == c2  # partition-invariant: same init order, same means


def test_ivf_corpus_rows_assigned_once(spark):
    # every corpus vector belongs to exactly one inverted list — a
    # query probing all lists sees each neighbor exactly once
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    out = sim.ivf_topk(emb, queries, k=5, n_centroids=4, n_probe=4, n_iters=1)
    pairs = out.groupBy("query_id", "neighbor_id").count().filter(F.col("count") > 1)
    assert pairs.count() == 0


def test_ivf_sampled_training_recall_parity(spark):
    # the 100 TB training knob: centroids trained on a 30% hash-sample
    # must give approximate-regime recall within tolerance of
    # full-corpus training (centroid quality needs representativeness,
    # not the full corpus)
    import pytest

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = sim.cosine_topk(emb, queries, k=5).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}

    def recall(train_fraction):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.ivf_topk(
                emb, queries, k=5, n_centroids=8, n_probe=4, n_iters=3,
                train_fraction=train_fraction,
            ).collect()
        }
        return len(truth & got) / len(truth)

    full, sampled = recall(None), recall(0.3)
    assert sampled >= full - 0.15, (full, sampled)

    # sample too thin to seed n_centroids distinct vectors -> loud error
    tiny = emb.limit(40)
    with pytest.raises(ValueError, match="train_fraction"):
        sim.ivf_train_centroids(tiny, n_centroids=8, n_iters=1, train_fraction=0.01)
    # out-of-range fraction -> loud error
    with pytest.raises(ValueError, match="train_fraction"):
        sim.ivf_train_centroids(emb, n_centroids=4, train_fraction=1.5)


def test_ivf_sampled_training_deterministic(spark):
    emb = _emb(spark)
    c1 = sim.ivf_train_centroids(emb, n_centroids=4, n_iters=2, train_fraction=0.5)
    c2 = sim.ivf_train_centroids(
        emb.repartition(7), n_centroids=4, n_iters=2, train_fraction=0.5
    )
    assert c1 == c2  # hash-sample is partition-invariant


def test_pq_lossless_codebooks_recover_exact_topk(spark):
    """If each subspace codebook contains every corpus subvector, PQ
    encoding is lossless and ADC must equal exact L2 — the degenerate
    configuration that pins the whole encode/score path, like
    n_probe=n_centroids does for IVF."""
    import itertools

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim
    from bohemia_kenya_data_pipeline_spark.operators.similarity import _l2sq

    n, dim, m = 12, 8, 2
    vecs = [
        [float(((i * 7 + j * 13) % 19) - 9) for j in range(dim)] for i in range(n)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    sub = dim // m
    books = [[v[s * sub : (s + 1) * sub] for v in vecs] for s in range(m)]
    out = sim.pq_topk(df, df, books, k=3)
    got = {(r.query_id, r.neighbor_id): r.adc_dist for r in out.collect()}

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    for qi, qv in enumerate(vecs):
        exact = sorted(
            ((l2(qv, vecs[ni]), ni) for ni in range(n) if ni != qi)
        )[:3]
        for rank, (d, ni) in enumerate(exact, start=1):
            assert (qi, ni) in got
            assert abs(got[(qi, ni)] - d) < 1e-6


def test_pq_trained_beats_grid_codebooks(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim
    from bohemia_kenya_data_pipeline_spark.operators.similarity import _l2sq, _as_double

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    exact = (
        F.broadcast(
            q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        )
        .crossJoin(
            emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _l2sq(
                F.transform(F.col("qv"), lambda x: x.cast("double")),
                F.transform(F.col("cv"), lambda x: x.cast("double")),
            ).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    truth = {
        (r.query_id, r.neighbor_id)
        for r in exact.withColumn("r", F.row_number().over(w)).filter("r<=5").collect()
    }

    def recall(books):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.pq_topk(emb, q, books, k=5).collect()
        }
        return len(got & truth) / len(truth)

    grid = recall(sim.pq_codebooks(64, 8, 16))
    trained = recall(sim.pq_train_codebooks(emb, 8, 16, n_iters=3))
    # training must help substantially on real data, and sampled
    # training must stay in the same quality band as full-corpus
    assert trained > grid + 0.1
    assert trained >= 0.15
    sampled = recall(sim.pq_train_codebooks(emb, 8, 16, n_iters=3, train_fraction=0.5))
    assert sampled >= trained - 0.1


def test_pq_validation(spark):
    import pytest as _pytest

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    with _pytest.raises(ValueError):
        sim.pq_codebooks(63, 8, 16)
    emb = spark.range(0).selectExpr("id AS vec_id", "ARRAY(1.0d) AS embedding")
    with _pytest.raises(ValueError):
        sim.pq_train_codebooks(emb, 1, 2)
    with _pytest.raises(ValueError):
        sim.pq_train_codebooks(
            spark.range(3).selectExpr("id AS vec_id", "ARRAY(1.0d, 2.0d) AS embedding"),
            2,
            2,
            train_fraction=1.5,
        )


def test_pq_arrow_and_expr_plans_agree(spark):
    """The Arrow encode and the pure-Column ``pq_code`` reference must
    produce identical codes — numpy's sequential small-axis sums and
    first-min argmin mirror the fold + array_position semantics."""
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(300)
    cb = sim.pq_codebooks(64, 8, 16)
    a = {r.vec_id: list(r.pq_code) for r in sim.pq_encode(emb, cb).collect()}
    ref = emb.select(
        "vec_id",
        sim.pq_code(F.col("embedding").cast("array<double>"), cb).alias("pq_code"),
    )
    b = {r.vec_id: list(r.pq_code) for r in ref.collect()}
    assert a == b and len(a) == 300


def test_ivf_train_small_corpus_degrades_gracefully(spark):
    import pytest as _pytest

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    tiny = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(5)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    # full-corpus training on 5 vectors with n_centroids=8: trains 5
    cents = sim.ivf_train_centroids(tiny, n_centroids=8, n_iters=1)
    assert len(cents) == 5
    # but a too-thin explicit SAMPLE raises with the knob named
    with _pytest.raises(ValueError, match="train_fraction"):
        sim.ivf_train_centroids(tiny, n_centroids=8, n_iters=1, train_fraction=0.2)


def test_quantize_embeddings_bounds_and_roundtrip(spark):
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [
            (1, [0.5, -0.25, 0.125, -0.0625]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [1.0, 1.0, 1.0, 1.0]),
        ],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    out = {r.vec_id: r for r in sim.quantize_embeddings(df, keep_vec=True).collect()}
    # max element always maps to +/-127; zero vector -> scale 0, zero codes
    assert out[1].q[0] == 127 and abs(out[1].scale - 0.5 / 127) < 1e-15
    assert out[2].scale == 0.0 and list(out[2].q) == [0, 0, 0, 0]
    assert list(out[3].q) == [127, 127, 127, 127]
    # reconstruction error bounded by scale/2 everywhere
    for r in out.values():
        for orig, code in zip(r.v, r.q):
            assert abs(orig - code * r.scale) <= r.scale / 2 + 1e-15
    # dot-product recovery within quantization error
    a, b = out[1], out[3]
    approx = sum(x * y for x, y in zip(a.q, b.q)) * a.scale * b.scale
    exact = sum(x * y for x, y in zip(a.v, b.v))
    assert abs(approx - exact) < 4 * (a.scale + b.scale)


def test_quantized_topk_tracks_exact_cosine(spark):
    """int8-scored top-k must stay close to float cosine top-k: high
    overlap in the neighbor sets and score error within quantization
    tolerance."""
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.query_id, r.neighbor_id): r.score
        for r in sim.cosine_topk(emb, q, k=5).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id): r.score
        for r in sim.quantized_cosine_topk(emb, q, k=5).collect()
    }
    overlap = len(set(exact) & set(quant)) / len(exact)
    assert overlap >= 0.8
    for pair in set(exact) & set(quant):
        assert abs(exact[pair] - quant[pair]) < 0.02


def test_quantized_prequantized_path_equals_composed(spark):
    # the steady-state pre-quantized scoring path must produce exactly
    # the composed quantize+score result (quantization is deterministic)
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    composed = sim.quantized_cosine_topk(emb, queries, k=5)
    qc = sim.quantize_embeddings(emb, "embedding", "vec_id")
    pre = sim.quantized_topk_prequantized(
        qc, qc.filter(F.col("vec_id") % 50 == 0), k=5
    )
    assert sorted(map(tuple, composed.collect())) == sorted(
        map(tuple, pre.collect())
    )


def test_cosine_topk_arrow_matches_fold_path(spark):
    # the Arrow matmul path must reproduce the expression-fold path
    # exactly at the 4-dp contract: same neighbors, same rounded
    # scores, same ranks
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    a = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in sim.cosine_topk(emb, q, k=5).collect()
    }
    b = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in sim.cosine_topk_arrow(emb, q, k=5).collect()
    }
    assert a == b


def test_cosine_topk_arrow_rejects_corpus_sized_query_set(spark):
    import pytest
    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="empty query batch"):
        sim.cosine_topk_arrow(emb, emb.limit(0), k=5)


def test_quantized_topk_arrow_matches_fold_path(spark):
    # integer pair math: the Arrow matmul path must be EXACTLY equal
    # to the expression-fold path (no rounding-boundary tolerance)
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    a = sorted(map(tuple, sim.quantized_cosine_topk(emb, q, k=5).collect()))
    b = sorted(map(tuple, sim.quantized_topk_arrow(emb, q, k=5).collect()))
    assert a == b


def test_ivf_topk_arrow_matches_fold_path(spark):
    # Arrow IVF (vectorized assignment + probe-masked scoring) must
    # reproduce the fold path exactly at the 4-dp contract with the
    # same literal centroids and pruned probes
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    cents = sim.random_hyperplanes(dim=64, n_planes=8, seed=7)
    a = sorted(map(tuple, sim.ivf_topk(
        emb, q, k=5, n_centroids=8, n_probe=2, centroids=cents
    ).collect()))
    b = sorted(map(tuple, sim.ivf_topk_arrow(
        emb, q, centroids=cents, k=5, n_probe=2
    ).collect()))
    assert a == b


def test_arrow_paths_tolerate_null_query_vector(spark):
    """Round-7 ADVICE fix: a NULL query-side embedding used to reach
    list(r['qv']) on the driver and raise TypeError in the three Arrow
    functions while the fold paths tolerated it. Contract now: NULL
    query vectors are dropped (no output rows for that qid); non-null
    queries are unaffected."""
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q_ok = emb.filter(F.col("vec_id") % 100 == 0)
    null_q = spark.createDataFrame(
        [(999_999, None)], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    q = q_ok.select("vec_id", "embedding").unionByName(null_q)
    for fn in (sim.cosine_topk_arrow, sim.quantized_topk_arrow):
        rows = fn(emb, q, k=3).collect()
        qids = {r["query_id"] for r in rows}
        assert 999_999 not in qids
        assert qids == {r["vec_id"] for r in q_ok.select("vec_id").collect()}
    cents = sim.ivf_train_centroids(emb, n_centroids=4, n_iters=2)
    rows = sim.ivf_topk_arrow(emb, q, centroids=cents, n_probe=2, k=3).collect()
    qids = {r["query_id"] for r in rows}
    assert 999_999 not in qids and len(qids) > 0


def test_quantized_oracle_keeps_zero_vectors(spark, duck):
    """Round-7 ADVICE fix: the quantized SQL oracles dropped zero
    vectors (WHERE list_max(abs) > 0) while the engine keeps them with
    all-zero codes scoring 0.0. Engine and oracle must agree on a
    corpus CONTAINING a zero vector — both as neighbor and as query."""
    import duckdb

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim
    from bohemia_kenya_data_pipeline_spark.queries import ORACLES

    data = [
        (0, [0.0, 0.0, 0.0]),        # zero QUERY (vec_id % 50 == 0)
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0]),        # zero NEIGHBOR
        (50, [0.0, 1.0, 0.0]),       # second query, non-zero
        (4, [-0.5, -0.5, 0.0]),
    ]
    emb = spark.createDataFrame(data, "vec_id INT, embedding ARRAY<DOUBLE>")
    from pyspark.sql import functions as F
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.score)
        for r in sim.quantized_cosine_topk(
            emb, emb.filter(F.col("vec_id") % 50 == 0), k=5
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {v!r}::DOUBLE[])" for i, v in data)
        + ") t(vec_id, embedding)"
    )
    want = sorted(
        (qid, rank, nid, score)
        for qid, nid, score, rank in con.execute(
            ORACLES["quantized_cosine_topk"]
        ).fetchall()
    )
    con.close()
    assert len(got) == len(want) and len(got) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert abs(g[3] - w[3]) < 1e-9
    # the zero query scores everything 0.0 and still emits k rows
    zero_q = [r for r in got if r[0] == 0]
    assert len(zero_q) == 5 and all(r[3] == 0.0 for r in zero_q)
    # the zero neighbor appears (score 0.0) rather than being dropped
    assert any(r[2] == 3 for r in got)


def test_null_vectors_dropped_uniformly_across_all_paths(spark):
    # one NULL corpus vector + one NULL query vector must change
    # NOTHING in any path's output (fold, LSH, IVF, PQ, quantized,
    # Arrow) — the shared _drop_null_vecs contract. Before round 7 the
    # cross-join paths emitted NULL-score top-k rows, sign-LSH parked
    # NULL vectors in bucket 0, and the PQ/Arrow kernels crashed.
    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(4)]) for i in range(1, 9)
    ]
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + [(99, None)], schema)

    def got(df_out):
        return sorted(map(tuple, df_out.collect()))

    cents = sim.ivf_train_centroids(dirty, n_centroids=2, n_iters=2)
    assert cents == sim.ivf_train_centroids(clean, n_centroids=2, n_iters=2)
    cbs = sim.pq_train_codebooks(dirty, n_subspaces=2, n_codewords=2, n_iters=2)
    assert cbs == sim.pq_train_codebooks(clean, n_subspaces=2, n_codewords=2, n_iters=2)

    paths = [
        lambda c, q: sim.cosine_topk(c, q, k=3),
        lambda c, q: sim.quantized_cosine_topk(c, q, k=3),
        lambda c, q: sim.lsh_topk(c, q, k=3, n_planes=2, n_tables=2, dim=4),
        lambda c, q: sim.ivf_topk(c, q, k=3, n_centroids=2, n_probe=2, centroids=cents),
        lambda c, q: sim.pq_topk(c, q, cbs, k=3),
        lambda c, q: sim.cosine_topk_arrow(c, q, k=3),
        lambda c, q: sim.ivf_topk_arrow(c, q, k=3, centroids=cents, n_probe=2),
    ]
    for fn in paths:
        assert got(fn(dirty, dirty)) == got(fn(clean, clean)), fn
        # no NULL scores survive anywhere
        assert all(r[2] is not None for r in got(fn(dirty, dirty)))


def test_decontaminate_by_embedding_planted(spark):
    # a leaked copy (cos 1.0) and a paraphrase-close vector must drop;
    # an orthogonal one survives; NULL-embedding rows pass through
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),      # exact leak
            (2, [0.95, 0.1, 0.0, 0.0]),     # near-paraphrase (cos ~0.99)
            (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal: keep
            (4, [0.0, 0.0, 0.0, 0.0]),      # zero vector: NaN, keep
            (5, None),                       # null: keep
        ],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    kept = sim.decontaminate_by_embedding(corpus, bench, threshold=0.8)
    assert sorted(r.vec_id for r in kept.collect()) == [3, 4, 5]
    # threshold pairs include the self-style exact match with score 1.0
    pairs = sim.cosine_threshold_pairs_arrow(corpus, bench, 0.8)
    got = {(r.query_id, r.neighbor_id): r.score for r in pairs.collect()}
    assert got[(100, 1)] == 1.0 and (100, 2) in got and len(got) == 2


def test_cosine_threshold_pairs_guards(spark):
    import pytest

    big = spark.range(10_001).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    small = spark.createDataFrame(
        [(1, [1.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="broadcasts the query batch"):
        sim.cosine_threshold_pairs_arrow(small, big, 0.5)
    with pytest.raises(ValueError, match="empty query batch"):
        sim.cosine_threshold_pairs_arrow(small, small.filter("vec_id < 0"), 0.5)


def test_mine_hard_negatives_excludes_positives_and_reranks(spark):
    # anchor at e1; its positive is the MOST similar item — it must be
    # excluded and the ranks re-packed starting at 1
    rows = [
        (1, [1.0, 0.0, 0.0]),    # anchor
        (2, [0.99, 0.14, 0.0]),  # positive (closest)
        (3, [0.9, 0.43, 0.0]),   # hardest negative
        (4, [0.7, 0.71, 0.0]),
        (5, [0.0, 1.0, 0.0]),
        (6, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    anchors = emb.filter(F.col("vec_id") == 1)
    positives = spark.createDataFrame([(1, 2)], "anchor_id BIGINT, positive_id BIGINT")
    out = sim.mine_hard_negatives(emb, anchors, positives, n_neg=3, k_cand=5)
    got = [(r.negative_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(3, 1), (4, 2), (5, 3)]  # positive 2 and self 1 absent


def test_mine_hard_negatives_shortfall_flag(spark):
    # 4-item corpus, anchor + 1 positive -> only 2 possible negatives;
    # n_neg=3 cannot be met. Default schema is unchanged; with
    # flag_shortfall=True every row of the starved anchor is marked.
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.44]),
        (3, [0.6, 0.8]),
        (4, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    anchors = emb.filter(F.col("vec_id") == 1)
    positives = spark.createDataFrame([(1, 2)], "anchor_id BIGINT, positive_id BIGINT")
    plain = sim.mine_hard_negatives(emb, anchors, positives, n_neg=3, k_cand=4)
    assert plain.columns == ["anchor_id", "negative_id", "score", "rank"]
    flagged = sim.mine_hard_negatives(
        emb, anchors, positives, n_neg=3, k_cand=4, flag_shortfall=True
    )
    got = flagged.orderBy("rank").collect()
    assert [r.negative_id for r in got] == [3, 4]  # 2 of 3 requested
    assert all(r.shortfall for r in got)

    # an anchor whose pool suffices is NOT flagged
    ok = sim.mine_hard_negatives(
        emb, anchors, positives, n_neg=2, k_cand=4, flag_shortfall=True
    )
    assert [r.shortfall for r in ok.collect()] == [False, False]


def test_ivf_train_arrow_matches_fold_training(spark, monkeypatch):
    """The Arrow training kernel reaches the same Lloyd fixed point as
    the fold kernel: centroids agree to 1e-9 per component on the
    fixture and downstream assignment is identical (r8 — the training
    twin of assign_centroids_arrow)."""
    import numpy as np

    corpus = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    force_ivf_kernel(monkeypatch, "fold")
    fold = sim.ivf_train_centroids(corpus, n_centroids=8, n_iters=3)
    force_ivf_kernel(monkeypatch, "arrow")
    arrow = sim.ivf_train_centroids(corpus, n_centroids=8, n_iters=3)
    assert np.allclose(np.asarray(fold), np.asarray(arrow), atol=1e-9)
    # identical downstream assignments (the thing that matters)
    a1 = sim.assign_centroids_arrow(corpus, fold).select("vec_id", "cid")
    a2 = sim.assign_centroids_arrow(corpus, arrow).select("vec_id", "cid")
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_ivf_train_arrow_guards_and_sampling(spark, monkeypatch):
    import pytest

    corpus = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    force_ivf_kernel(monkeypatch, "arrow")
    with pytest.raises(ValueError, match="train_fraction"):
        sim.ivf_train_centroids(corpus, train_fraction=1.5)
    with pytest.raises(ValueError, match="raise train_fraction"):
        sim.ivf_train_centroids(
            corpus, n_centroids=64, n_iters=1, train_fraction=0.01
        )
    # sampled training still seeds deterministically and returns k
    cents = sim.ivf_train_centroids(
        corpus, n_centroids=4, n_iters=2, train_fraction=0.5
    )
    assert len(cents) == 4 and len(cents[0]) == 64
    # tiny full corpus degrades to corpus size, same as the fold path
    tiny = corpus.limit(3)
    assert len(sim.ivf_train_centroids(tiny, n_centroids=8, n_iters=1)) == 3


def test_validate_embeddings_classifies_and_quarantines(spark):
    import pytest

    rows = [
        (1, [1.0] * 4),                    # ok
        (2, None),                         # null_vector
        (3, [1.0] * 3),                    # wrong_dim
        (4, [1.0, None, 1.0, 1.0]),        # null_element
        (5, [1.0, float("nan"), 1.0, 1.0]),  # non_finite (NaN)
        (6, [1.0, float("inf"), 1.0, 1.0]),  # non_finite (+Inf)
        (7, [0.0, 0.0, 0.0, 0.0]),         # zero_vector
        (8, [1.0, None, float("nan"), 1.0]),  # null masks nan: null_element
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    got = {
        r.vec_id: r.embedding_status
        for r in sim.validate_embeddings(df, dim=4).collect()
    }
    assert got == {
        1: "ok", 2: "null_vector", 3: "wrong_dim", 4: "null_element",
        5: "non_finite", 6: "non_finite", 7: "zero_vector",
        8: "null_element",
    }
    good, bad = sim.quarantine_embeddings(df, dim=4)
    assert [r.vec_id for r in good.collect()] == [1]
    assert "embedding_status" not in good.columns
    assert sorted(r.vec_id for r in bad.collect()) == [2, 3, 4, 5, 6, 7, 8]
    assert "embedding_status" in bad.columns
    # float input works (index-corpus type) and dim is validated
    fdf = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id INT, embedding ARRAY<FLOAT>"
    )
    assert sim.validate_embeddings(fdf, dim=2).collect()[0].embedding_status == "ok"
    with pytest.raises(ValueError, match="dim"):
        sim.validate_embeddings(df, dim=0)


def test_mmr_rerank_diversity_and_degenerate_cases(spark):
    import pytest

    # corpus: docs 1,2 are the SAME direction (near-dups), 3 is
    # orthogonal, 4 is a third direction; query favors the dup pair
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    cands = spark.createDataFrame(
        [(100, 1, 0.99), (100, 2, 0.98), (100, 3, 0.40), (100, 4, 0.30)],
        "query_id BIGINT, neighbor_id BIGINT, score DOUBLE",
    )
    # lam=1: pure score order — identical to the generator's ranking
    pure = sim.mmr_rerank(cands, corpus, k=3, lam=1.0).collect()
    assert [(r.neighbor_id, r.mmr_rank) for r in
            sorted(pure, key=lambda r: r.mmr_rank)] == [(1, 1), (2, 2), (3, 3)]
    # lam=0.5: the near-dup of the #1 pick is demoted below the
    # orthogonal docs — diversity beats 0.58 of raw score
    div = sorted(
        sim.mmr_rerank(cands, corpus, k=3, lam=0.5).collect(),
        key=lambda r: r.mmr_rank,
    )
    assert div[0].neighbor_id == 1
    assert {div[1].neighbor_id, div[2].neighbor_id} == {3, 4}
    # k >= pool: everything comes back, ranks 1..n, each id once
    allb = sim.mmr_rerank(cands, corpus, k=10, lam=0.5).collect()
    assert sorted(r.mmr_rank for r in allb) == [1, 2, 3, 4]
    assert len({r.neighbor_id for r in allb}) == 4
    # composes downstream of a real generator
    pool = sim.cosine_topk(corpus, corpus.filter(F.col("vec_id") == 3), k=4)
    out = sim.mmr_rerank(pool, corpus, k=2, lam=0.7).collect()
    assert len(out) == 2 and len({r.query_id for r in out}) == 1
    with pytest.raises(ValueError, match="lam"):
        sim.mmr_rerank(cands, corpus, k=2, lam=1.5)
    with pytest.raises(ValueError, match="k"):
        sim.mmr_rerank(cands, corpus, k=0)


def test_mmr_rerank_schema_polymorphic_and_signed_penalty(spark):
    # string doc ids + float32 scores (the dedup/text doc_id regime):
    # output column types mirror the candidate frame's instead of the
    # old hardcoded long/double (ADVICE r10)
    corpus = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("o", [0.0, 1.0]), ("c", [-1.0, 0.0])],
        "doc_id STRING, embedding ARRAY<DOUBLE>",
    )
    cands = spark.createDataFrame(
        [("q", "a", 0.9), ("q", "o", 0.3), ("q", "c", 0.1)],
        "query_id STRING, neighbor_id STRING, score FLOAT",
    )
    out = sim.mmr_rerank(cands, corpus, k=2, lam=0.5, id_col="doc_id")
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string", "string", "float", "int",
    ]
    rows = sorted(out.collect(), key=lambda r: r.mmr_rank)
    # signed penalty: after picking `a`, candidate `c` is ANTI-correlated
    # (cosine -1 to a) so its marginal gain is 0.5*0.1 - 0.5*(-1) = 0.55,
    # beating the orthogonal `o` (0.5*0.3 - 0 = 0.15). The old zero-floored
    # penalty gave c only 0.05 and wrongly picked o (ADVICE r10).
    assert [r.neighbor_id for r in rows] == ["a", "c"]


def test_cosine_prenormed_fixed_bit_identical(spark):
    """The unrolled fixed-dim cosine must equal the aggregate-fold
    cosine BIT-FOR-BIT (same IEEE order incl. the leading 0.0 term)
    on every well-formed pair, and fall back to the fold's generic
    semantics for malformed rows (wrong dim, NULL elements, zero
    norm)."""
    import math

    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    rows = []
    for i in range(50):
        va = [math.sin(i * 7 + j) for j in range(8)]
        vb = [math.cos(i * 3 + j) for j in range(8)]
        rows.append((va, vb))
    rows.append(([0.0] * 8, [1.0] * 8))            # zero norm -> 0.0
    rows.append(([1.0] * 5, [1.0] * 8))            # short -> fold branch
    rows.append(([1.0] * 9, [1.0] * 9))            # long + equal -> fold branch
    rows.append(([1.0, None] + [1.0] * 6, [1.0] * 8))  # NULL element
    df = spark.createDataFrame(rows, "va ARRAY<DOUBLE>, vb ARRAY<DOUBLE>")
    df = df.withColumn("na", sim.norm(F.col("va"))).withColumn(
        "nb", sim.norm(F.col("vb"))
    )
    got = df.select(
        sim.cosine_prenormed(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("fold"),
        sim.cosine_prenormed_fixed("va", "vb", F.col("na"), F.col("nb"), 8).alias("fast"),
    ).collect()
    for r in got:
        if r.fold is None:
            assert r.fast is None
        else:
            assert r.fold == r.fast and math.copysign(1, r.fold) == math.copysign(1, r.fast)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sim.cosine_prenormed_fixed("va", "vb", F.col("na"), F.col("nb"), 0)


def test_nearest_cid_sql_matches_column_path(spark):
    # r15 one-parse class: the SQL-built argmax/probe expressions must
    # be value-identical to the Column-composed twins, including exact
    # dot ties (argmax keeps the SMALLER cid in both) and negatives.
    cents = [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]]  # cid 2 duplicates cid 0
    rows = [
        (1, [0.9, 0.1]),
        (2, [0.1, 0.9]),
        (3, [0.5, 0.5]),      # exact tie between cid 0/1/2 -> cid 0
        (4, [-1.0, -2.0]),    # all dots negative
        (5, [0.0, 0.0]),      # zero vector: dot 0 everywhere -> cid 0
    ]
    df = spark.createDataFrame(rows, "id INT, v ARRAY<DOUBLE>")
    col_cid = sim._nearest_cid(F.col("v"), sim._centroid_literal(cents))
    sql_cid = F.expr(sim._nearest_cid_sql("`v`", sim._centroid_literal_sql(cents)))
    got = df.select("id", col_cid.alias("a"), sql_cid.alias("b")).collect()
    for r in got:
        assert r.a == r.b, (r.id, r.a, r.b)
    assert {r.id: r.a for r in got}[3] == 0  # tie -> smallest cid

    probes_col = F.slice(
        F.sort_array(
            F.transform(
                sim._centroid_literal(cents),
                lambda ce: F.struct(
                    (-sim.dot(F.col("v"), ce["cv"])).alias("d"),
                    ce["cid"].alias("cid"),
                ),
            )
        ),
        1,
        2,
    )
    pc = F.transform(probes_col, lambda p: p["cid"])
    ps = F.expr(sim._probe_cids_sql("`v`", sim._centroid_literal_sql(cents), 2))
    for r in df.select(pc.alias("a"), ps.alias("b")).collect():
        assert list(r.a) == list(r.b)


def test_cosine_fixed_dim_cap_falls_back_to_fold(spark):
    # ADVICE r14: dims above UNROLL_MAX_DIM must use the generic fold
    # (no giant unrolled chain), with identical values.
    dim = sim.UNROLL_MAX_DIM + 8
    rows = [([1.0] * dim, [0.5] * dim)]
    df = spark.createDataFrame(rows, "va ARRAY<DOUBLE>, vb ARRAY<DOUBLE>")
    df = df.withColumn("na", sim.norm(F.col("va"))).withColumn(
        "nb", sim.norm(F.col("vb"))
    )
    fast = sim.cosine_prenormed_fixed("va", "vb", F.col("na"), F.col("nb"), dim)
    fold = sim.cosine_prenormed(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    got = df.select(fast.alias("fast"), fold.alias("fold")).collect()[0]
    assert got.fast == got.fold
    # the capped expression must not contain an unrolled element chain
    assert "[255]" not in repr(fast)
