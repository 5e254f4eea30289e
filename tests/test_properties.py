"""Property tests (SURVEY §5.3): order-sensitive operators must be
invariant to input row order / physical partitioning — keep-last SET
dedup, fill-down after skeleton join, sessionization."""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.operators import clean as cl
from bohemia_kenya_data_pipeline_spark.operators import windows as W

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def resolution_rows(draw):
    n = draw(st.integers(2, 12))
    rows = []
    for i in range(n):
        iid = f"uuid:{draw(st.integers(0, 3))}"
        col = draw(st.sampled_from(["age", "village"]))
        rows.append(("f", iid, col, str(draw(st.integers(0, 99))), "SET", "", 0, i))
    return rows


@given(rows=resolution_rows(), seed=st.integers(0, 2**16))
@settings(**_SETTINGS)
def test_apply_sets_keep_last_order_invariant(spark, rows, seed):
    data = spark.createDataFrame(
        [(f"uuid:{i}", f"uuid:{i}", "V", 1.0) for i in range(4)],
        ["instanceID", "KEY", "village", "age"],
    )
    schema = (
        "`Form` string, `instanceID` string, `Column` string, `Set To` string, "
        "`Operation` string, `RepeatName` string, `RepeatKey` int, "
        "`resolution_order` int"
    )
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    out_a = cl.apply_sets(data, spark.createDataFrame(rows, schema))
    out_b = cl.apply_sets(data, spark.createDataFrame(shuffled, schema).repartition(5))
    assert sorted(map(tuple, out_a.collect())) == sorted(map(tuple, out_b.collect()))
    # keep-last semantics vs a driver-side reference
    last: dict[tuple[str, str], tuple[int, str]] = {}
    for r in rows:
        key = (r[1], r[2])
        if key not in last or r[7] > last[key][0]:
            last[key] = (r[7], r[3])
    got = {r.instanceID: r for r in out_a.collect()}
    for (iid, col), (_, val) in last.items():
        if iid in got:
            want = float(val) if col == "age" else val
            assert getattr(got[iid], col) == want


@given(
    vals=st.lists(st.one_of(st.none(), st.integers(0, 9)), min_size=1, max_size=20),
    seed=st.integers(0, 2**16),
)
@settings(**_SETTINGS)
def test_fill_down_matches_forward_fill(spark, vals, seed):
    rows = [("g", i, v) for i, v in enumerate(vals)]
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    df = spark.createDataFrame(shuffled, "grp string, seq int, v int").repartition(3)
    out = {
        r.seq: r.v
        for r in W.fill_down(df, ["v"], partition_by=["grp"], order_by=["seq"]).collect()
    }
    # driver-side forward fill
    cur = None
    for i, v in enumerate(vals):
        cur = v if v is not None else cur
        assert out[i] == cur


@given(
    gaps=st.lists(st.integers(1, 120), min_size=1, max_size=25),
    seed=st.integers(0, 2**16),
)
@settings(**_SETTINGS)
def test_sessionize_order_and_partition_invariant(spark, gaps, seed):
    # events at cumulative minute offsets; sessions split at >30 min
    ts = []
    t = 0
    for g in gaps:
        t += g
        ts.append(t)
    rows = [("u", i, float(t)) for i, t in enumerate(ts)]
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    df = spark.createDataFrame(shuffled, "user_id string, event_id int, minute double")
    df = df.withColumn("ts", F.timestamp_seconds(F.col("minute") * 60))
    out = W.sessionize(df.repartition(4), "user_id", "ts", gap_minutes=30,
                       order_tiebreakers=["event_id"])
    n_sessions = out.select("session_id").distinct().count()
    expected = 1 + sum(1 for g in gaps[1:] if g > 30)
    assert n_sessions == expected


def test_sessionize_splits_sub_second_gap_over_threshold(spark):
    """A gap of 1800.3 s is over the 30-minute threshold even though the
    whole-second parts (.6 -> .9 past the second) differ by exactly
    1800: the split must be decided at microsecond precision, as the
    DuckDB oracle and the streaming sessionizer do."""
    t0 = 1_600_000_000.6
    rows = [("u", 1, t0), ("u", 2, t0 + 1800.3), ("u", 3, t0 + 1800.3 + 1799.9)]
    df = spark.createDataFrame(rows, "user_id string, event_id int, sec double")
    df = df.withColumn("ts", F.timestamp_micros(F.round(F.col("sec") * 1e6).cast("long")))
    out = W.sessionize(df, "user_id", "ts", gap_minutes=30, order_tiebreakers=["event_id"])
    got = {r.event_id: r.session_id for r in out.collect()}
    assert got == {1: 1, 2: 2, 3: 2}


@given(
    thresholds=st.lists(st.integers(0, 100), min_size=40, max_size=40),
    xs=st.lists(st.integers(0, 100), min_size=1, max_size=30),
)
@settings(**_SETTINGS)
def test_long_case_when_chain_first_match(spark, thresholds, xs):
    # §7.4.1: ~40-branch ordered case_when (safety_status...Rmd:235-296)
    # generated mechanically must keep FIRST-match semantics even when
    # branch conditions overlap arbitrarily.
    df = spark.createDataFrame([(x,) for x in xs], "x int")
    expr = None
    for i, t in enumerate(thresholds):
        cond = F.col("x") >= t
        expr = F.when(cond, F.lit(i)) if expr is None else expr.when(cond, F.lit(i))
    out = {r.x: r.branch for r in
           df.withColumn("branch", expr.otherwise(F.lit(-1))).collect()}
    for x in xs:
        want = next((i for i, t in enumerate(thresholds) if x >= t), -1)
        assert out[x] == want


@given(
    st.integers(min_value=0, max_value=200),
    st.integers(min_value=2, max_value=12),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunking_reconstructs_tokens(spark, n_tokens, chunk):
    from bohemia_kenya_data_pipeline_spark.operators import text as tx

    overlap = chunk // 2
    stride = chunk - overlap
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    chunks = sorted(
        (r.chunk_id, r.chunk_text, r.n_chunk_tokens)
        for r in tx.chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect()
    )
    # every chunk bounded; stitching chunks (dropping each successor's
    # overlap) reconstructs the token stream exactly
    assert all(n <= chunk for _, _, n in chunks)
    stitched: list[str] = []
    for cid, ctext, _ in chunks:
        toks = ctext.split() if ctext else []
        stitched.extend(toks if cid == 0 else toks[overlap:])
    assert stitched == ([f"t{i}" for i in range(n_tokens)] or [])


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=5),
        min_size=1,
        max_size=8,
    ),
    seed=st.integers(0, 2**16),
)
@settings(**_SETTINGS)
def test_dedup_lines_model_equivalence(spark, texts, seed):
    """dedup_lines(keep_first) must match the obvious sequential model:
    walk documents by id, keep a line only the first time its text is
    seen anywhere — regardless of input row order / partitioning."""
    from bohemia_kenya_data_pipeline_spark.operators import text as tx

    docs = [(i, "\n".join(lines)) for i, lines in enumerate(texts)]
    seen: set[str] = set()
    expect = {}
    for i, lines in enumerate(texts):
        kept = []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        expect[i] = "\n".join(kept)
    shuffled = docs[:]
    random.Random(seed).shuffle(shuffled)
    df = spark.createDataFrame(shuffled, ["doc_id", "text"]).repartition(3)
    got = {r.doc_id: r.text for r in tx.dedup_lines(df).collect()}
    assert got == expect


@given(
    tokens=st.lists(st.integers(1, 50), min_size=1, max_size=30),
    budget=st.integers(1, 300),
)
@settings(**_SETTINGS)
def test_take_token_budget_model_equivalence(spark, tokens, budget):
    """Selection must equal the sequential model over the operator's
    own deterministic hash order: take docs while spent < budget."""
    import hashlib

    from bohemia_kenya_data_pipeline_spark.operators import sampling as smp

    rows = [(i, "g", t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, ["id", "grp", "tokens"])
    order = sorted(
        range(len(tokens)),
        key=lambda i: (hashlib.md5(f"{i}|42".encode()).hexdigest()[:8], i),
    )
    spent, keep = 0, set()
    for i in order:
        if spent < budget:
            keep.add(i)
            spent += tokens[i]
    got = {r.id for r in smp.take_token_budget(df, "grp", "tokens", budget, "id").collect()}
    assert got == keep


@given(vec=st.lists(st.floats(-5, 5, allow_nan=False, width=32), min_size=8, max_size=8))
@settings(**_SETTINGS)
def test_pq_roundtrip_identity_when_codebook_contains_vector(spark, vec):
    """A vector whose exact subvectors are in the codebooks must encode
    to those codewords with ADC distance 0 against itself."""
    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    vec = [float(v) for v in vec]
    m, sub = 2, 4
    books = [
        [vec[s * sub : (s + 1) * sub]] + [[v + 10.0 for v in vec[s * sub : (s + 1) * sub]]]
        for s in range(m)
    ]
    df = spark.createDataFrame([(0, vec)], "vec_id INT, embedding ARRAY<DOUBLE>")
    code = sim.pq_encode(df, books).collect()[0].pq_code
    assert list(code) == [0, 0]


# ---------------------------------------------------------------------------
# Round-4 continuation families: bloom / CMS / IVM invariants under
# randomized inputs
# ---------------------------------------------------------------------------


@given(
    members=st.sets(st.integers(0, 5000), min_size=1, max_size=80),
    probes=st.sets(st.integers(0, 5000), min_size=1, max_size=80),
)
@settings(**_SETTINGS)
def test_bloom_never_false_negative_property(spark, members, probes):
    from bohemia_kenya_data_pipeline_spark.operators import bloom as B

    m = spark.createDataFrame([(k,) for k in members], "k long")
    p = spark.createDataFrame([(k,) for k in probes], "k long")
    bl = B.bloom_words(m, "k", n_bits=1 << 12)
    passed = {r.k for r in B.might_contain(p, bl, "k", n_bits=1 << 12).collect()}
    assert (members & probes) <= passed


@given(
    xs=st.lists(st.integers(0, 30), min_size=1, max_size=120),
)
@settings(**_SETTINGS)
def test_cms_upper_bound_property(spark, xs):
    from collections import Counter

    from bohemia_kenya_data_pipeline_spark.operators import stats as sstats

    df = spark.createDataFrame([(x,) for x in xs], "k int")
    sk = sstats.build_cms(df, "k", width=16, depth=3)  # tiny: force collisions
    probes = spark.createDataFrame([(k,) for k in set(xs)], "k int")
    got = {r.k: r.est_n for r in sstats.cms_estimate(sk, probes, "k", width=16, depth=3).collect()}
    true = Counter(xs)
    assert all(got[k] >= n for k, n in true.items())


@given(
    old_rows=st.dictionaries(
        st.integers(0, 30), st.tuples(st.sampled_from("abc"), st.integers(-50, 50)),
        max_size=20,
    ),
    new_rows=st.dictionaries(
        st.integers(0, 30), st.tuples(st.sampled_from("abc"), st.integers(-50, 50)),
        max_size=20,
    ),
)
@settings(**_SETTINGS)
def test_ivm_invariant_property(spark, old_rows, new_rows):
    """maintained == recomputed for ARBITRARY old/new snapshots —
    any mix of inserts, deletes, value updates, and group moves
    (group moves arrive as 'update' rows whose group column changed;
    apply_delta credits the NEW group with (new - old), which is only
    correct when the group did NOT move, so the helper splits moved
    keys into explicit delete+insert delta rows first)."""
    from bohemia_kenya_data_pipeline_spark.operators import ivm
    from bohemia_kenya_data_pipeline_spark.operators import scd as sc

    old = spark.createDataFrame(
        [(k, g, v) for k, (g, v) in old_rows.items()] or [(999, "z", 0)],
        "k int, g string, v long",
    )
    new = spark.createDataFrame(
        [(k, g, v) for k, (g, v) in new_rows.items()] or [(999, "z", 0)],
        "k int, g string, v long",
    )
    state = ivm.aggregate_state(old, ["g"], ["v"])
    diff = sc.snapshot_diff(old, new, ["k"])
    delta = ivm.delta_from_snapshot_diff(diff, old, new, ["k"], ["v", "g"])
    full_delta = ivm.split_group_moves(delta, ["k"], ["v"], "old_g", "new_g")
    maintained = ivm.apply_delta(state, full_delta, ["g"], ["v"])
    recomputed = ivm.aggregate_state(new, ["g"], ["v"])
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, recomputed.collect())
    )


@given(
    vals=st.lists(st.integers(-50, 50), min_size=0, max_size=60),
    parts=st.integers(1, 9),
)
@settings(**_SETTINGS)
def test_distributed_rank_random_inputs(spark, vals, parts):
    """Property (round 7): exact global rank equals the single-reducer
    window on arbitrary small inputs — duplicate-heavy values, all-equal
    values, empty input, any partition count. The unique tiebreak column
    makes the order total, per the operator contract."""
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "v INT, id INT"
    ).repartition(3)
    got = {
        r["id"]: r["rn"]
        for r in W.distributed_global_rank(
            df, ["v", "id"], num_partitions=parts, sample_per_partition=5
        ).collect()
    }
    want = {
        i: rank + 1
        for rank, (v, i) in enumerate(sorted((v, i) for i, v in enumerate(vals)))
    }
    assert got == want
