"""Goldens for the round-5 retrieval / curation additions:

- ``text.bm25_topk``       — hand-computed scores, saturation, length norm
- ``text.perplexity_buckets`` — order-statistic bucket arithmetic
- ``dedup.duplicate_spans``   — island merging branches the driver corpus
                                never exercises (partial spans, multiple
                                islands, adjacency, min_docs)
"""

from __future__ import annotations

import math

from bohemia_kenya_data_pipeline_spark.operators import dedup as dd
from bohemia_kenya_data_pipeline_spark.operators import text as tx


# ---------------------------------------------------------------- BM25
def _bm25_ref(tf, df, n_docs, dl, avgdl, k1=1.2, b=0.75):
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / avgdl))


def test_bm25_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),          # dl=3, tf(apple)=2
            (2, "apple cherry"),                # dl=2, tf(apple)=1
            (3, "banana banana banana cherry"), # dl=4
        ],
        ["doc_id", "text"],
    )
    q = spark.createDataFrame([(1, "apple")], ["query_id", "query_text"])
    rows = {r["doc_id"]: r for r in tx.bm25_topk(docs, q, k=10).collect()}
    avgdl = 3.0  # (3+2+4)/3
    exp1 = round(_bm25_ref(tf=2, df=2, n_docs=3, dl=3, avgdl=avgdl) * 1e6)
    exp2 = round(_bm25_ref(tf=1, df=2, n_docs=3, dl=2, avgdl=avgdl) * 1e6)
    assert set(rows) == {1, 2}  # doc 3 has no query term
    assert rows[1]["score_micros"] == exp1
    assert rows[2]["score_micros"] == exp2
    assert rows[1]["rank"] == 1 and rows[2]["rank"] == 2


def test_bm25_multi_term_sums_and_rare_term_wins(spark):
    # "rare" appears in 1/4 docs, "common" in all 4: the doc holding
    # the rare term must outrank any doc with only the common term.
    docs = spark.createDataFrame(
        [
            (1, "common rare"),
            (2, "common common common"),
            (3, "common filler filler"),
            (4, "common filler other"),
        ],
        ["doc_id", "text"],
    )
    q = spark.createDataFrame([(7, "common rare")], ["query_id", "query_text"])
    out = tx.bm25_topk(docs, q, k=2).orderBy("rank").collect()
    assert [r["doc_id"] for r in out] == [1, 2]
    assert all(r["query_id"] == 7 for r in out)


def test_bm25_length_normalization(spark):
    # identical tf; the shorter document must score strictly higher
    docs = spark.createDataFrame(
        [
            (1, "hit pad"),
            (2, "hit " + " ".join(["pad"] * 20)),
            (3, "other words here entirely"),
        ],
        ["doc_id", "text"],
    )
    q = spark.createDataFrame([(1, "hit")], ["query_id", "query_text"])
    rows = {r["doc_id"]: r["score_micros"] for r in tx.bm25_topk(docs, q).collect()}
    assert rows[1] > rows[2]


def test_bm25_k_cut_and_duplicate_query_terms(spark):
    docs = spark.createDataFrame(
        [(i, "term filler") for i in range(1, 6)], ["doc_id", "text"]
    )
    # duplicated term in the query text counts once (distinct terms)
    q = spark.createDataFrame([(1, "term term")], ["query_id", "query_text"])
    out = tx.bm25_topk(docs, q, k=3).collect()
    assert len(out) == 3
    single = {r["doc_id"]: r["score_micros"] for r in tx.bm25_topk(
        docs, spark.createDataFrame([(1, "term")], ["query_id", "query_text"]), k=3
    ).collect()}
    for r in out:
        assert r["score_micros"] == single[r["doc_id"]]


# --------------------------------------------- perplexity buckets
def test_perplexity_bucket_sizes_and_order(spark):
    # 7 docs in one group: bucket sizes must be ceil/floor split 3/2/2
    # by the (rn-1)*3 div n rule -> [0,0,0,1,1,2,2]
    docs = spark.createDataFrame(
        [
            # rare tokens => high nll; common token repeated => low nll
            (1, "x x x x x x x x", "en"),
            (2, "x x x x x x x q1", "en"),
            (3, "x x x x x x q2 q3", "en"),
            (4, "x x x x x q4 q5 q6", "en"),
            (5, "x x x x q7 q8 q9 qa", "en"),
            (6, "x x x qb qc qd qe qf", "en"),
            (7, "x x qg qh qi qj qk ql", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = tx.perplexity_buckets(docs, n_buckets=3)
    rows = sorted(out.collect(), key=lambda r: r["mean_nll"])
    assert [r["bucket"] for r in rows] == ["head"] * 3 + ["middle"] * 2 + ["tail"] * 2
    # doc 1 is the most predictable corpus member -> head
    assert rows[0]["doc_id"] == 1 and rows[-1]["doc_id"] == 7


def test_perplexity_buckets_are_per_group(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a", "en"),
            (2, "a a zz", "en"),
            (3, "a zz zz", "en"),
            (4, "b b b", "fr"),
            (5, "b b yy", "fr"),
            (6, "b yy yy", "fr"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = {(r["lang"], r["bucket"]) for r in tx.perplexity_buckets(docs).collect()}
    # every language gets its own full head/middle/tail split
    for lang in ("en", "fr"):
        assert {(lang, "head"), (lang, "middle"), (lang, "tail")} <= out


# --------------------------------------------------- duplicate spans
def _spans(spark, rows, n=3, min_docs=2):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dd.duplicate_spans(df, n=n, min_docs=min_docs)
    return sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in out.collect()
    )


def test_partial_span_inside_unique_text(spark):
    # the shared trigram sits at positions 3-5 of doc 1, 1-3 of doc 2
    rows = [
        (1, "u1 u2 c1 c2 c3 u3"),
        (2, "c1 c2 c3 v1 v2 v3"),
    ]
    assert _spans(spark, rows) == [(1, 3, 5, 3), (2, 1, 3, 3)]


def test_two_islands_in_one_document(spark):
    # two shared trigrams separated by unique filler -> two spans
    rows = [
        (1, "a1 a2 a3 zz1 zz2 zz3 zz4 b1 b2 b3"),
        (2, "a1 a2 a3 q1 q2 q3 q4 q5 q6 q7"),
        (3, "p1 p2 p3 p4 p5 p6 p7 b1 b2 b3"),
    ]
    got = _spans(spark, rows)
    assert (1, 1, 3, 3) in got and (1, 8, 10, 3) in got
    assert (2, 1, 3, 3) in got and (3, 8, 10, 3) in got
    assert len([g for g in got if g[0] == 1]) == 2


def test_overlapping_positions_merge_to_maximal_span(spark):
    # a shared 4-token run yields two overlapping trigram hits (pos 1,2)
    # that must merge into ONE maximal span [1,4]
    rows = [
        (1, "s1 s2 s3 s4 u1 u2"),
        (2, "s1 s2 s3 s4 w1 w2"),
    ]
    assert _spans(spark, rows) == [(1, 1, 4, 4), (2, 1, 4, 4)]


def test_adjacent_spans_merge(spark):
    # doc1 shares [1,3] with doc2 and the immediately adjacent [4,6]
    # with doc3 -> one contiguous duplicated region [1,6]
    rows = [
        (1, "a1 a2 a3 b1 b2 b3"),
        (2, "a1 a2 a3 x1 x2 x3"),
        (3, "y1 y2 y3 b1 b2 b3"),
    ]
    got = _spans(spark, rows)
    assert (1, 1, 6, 6) in got


def test_min_docs_threshold(spark):
    rows = [
        (1, "m1 m2 m3 k1 k2 k3"),
        (2, "m1 m2 m3 k4 k5 k6"),
        (3, "m1 m2 m3 k7 k8 k9"),
    ]
    # trigram m1m2m3 is in 3 docs; with min_docs=4 nothing qualifies
    assert _spans(spark, rows, min_docs=4) == []
    assert len(_spans(spark, rows, min_docs=3)) == 3


def test_short_documents_excluded(spark):
    rows = [(1, "t1 t2"), (2, "t1 t2"), (3, "t1 t2 t3 t4"), (4, "t1 t2 t3 t4")]
    # docs 1/2 are shorter than n=3 -> never shingled; docs 3/4 match
    got = _spans(spark, rows)
    assert got == [(3, 1, 4, 4), (4, 1, 4, 4)]


def test_internal_repeat_within_single_doc_not_duplicated(spark):
    # the trigram repeats INSIDE doc 1 only -> min_docs=2 on DISTINCT
    # docs keeps it out
    rows = [
        (1, "r1 r2 r3 r1 r2 r3"),
        (2, "n1 n2 n3 n4 n5 n6"),
    ]
    assert _spans(spark, rows) == []


# ------------------------------------------- remove_duplicate_spans
def test_remove_spans_cuts_only_the_shared_range(spark):
    df = spark.createDataFrame(
        [
            (1, "u1 u2 c1 c2 c3 u3"),
            (2, "c1 c2 c3 v1 v2 v3"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dd.remove_duplicate_spans(df, n=3).collect()}
    assert out[1]["text_clean"] == "u1 u2 u3"
    assert out[1]["n_tokens_kept"] == 3 and out[1]["n_tokens_removed"] == 3
    assert out[2]["text_clean"] == "v1 v2 v3"


def test_remove_spans_passthrough_and_wall_to_wall(spark):
    df = spark.createDataFrame(
        [
            (1, "a1 a2 a3 a4"),   # fully duplicated -> empty
            (2, "a1 a2 a3 a4"),
            (3, "z1 z2 z3 z4"),   # unique -> untouched
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dd.remove_duplicate_spans(df, n=3).collect()}
    assert out[1]["text_clean"] == "" and out[1]["n_tokens_removed"] == 4
    assert out[3]["text_clean"] == "z1 z2 z3 z4" and out[3]["n_tokens_removed"] == 0


def test_remove_spans_multiple_islands(spark):
    df = spark.createDataFrame(
        [
            (1, "a1 a2 a3 keep1 keep2 keep3 keep4 b1 b2 b3"),
            (2, "a1 a2 a3 q1 q2 q3 q4 q5 q6 q7"),
            (3, "p1 p2 p3 p4 p5 p6 p7 b1 b2 b3"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dd.remove_duplicate_spans(df, n=3).collect()}
    assert out[1]["text_clean"] == "keep1 keep2 keep3 keep4"
    assert out[1]["n_tokens_removed"] == 6


# ------------------------------------------------------- RRF fusion
def test_rrf_hand_computed_and_union_semantics(spark):
    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    r1 = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2)], ["query_id", "doc_id", "rank"]
    )
    r2 = spark.createDataFrame(
        [(1, 20, 1), (1, 30, 2)], ["query_id", "doc_id", "rank"]
    )
    out = {r["doc_id"]: r for r in sim.rrf_fuse([r1, r2], k=60).collect()}
    c = lambda rk: round(1e9 / (rk + 60))  # noqa: E731
    # doc 20 appears in both rankers and must win
    assert out[20]["rrf_nanos"] == c(1) + c(2)
    assert out[10]["rrf_nanos"] == c(1)
    assert out[30]["rrf_nanos"] == c(2)
    assert out[20]["rank"] == 1
    # doc 10 (rank 1 in r1) beats doc 30 (rank 2 in r2); tie impossible
    assert out[10]["rank"] == 2 and out[30]["rank"] == 3


def test_rrf_tie_breaks_on_id_and_top_k_cuts(spark):
    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim

    r1 = spark.createDataFrame(
        [(1, 5, 1), (1, 3, 1)], ["query_id", "doc_id", "rank"]
    )  # identical contributions -> id tie-break
    out = sim.rrf_fuse([r1], k=60, top_k=1).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 3


def test_perplexity_empty_docs_bucketed_tail_not_dropped(spark):
    # zero-token docs have no defined perplexity; they must still come
    # back (n_tokens=0, mean_nll NULL, bucket='tail'), never vanish.
    docs = spark.createDataFrame(
        [
            (1, "a a a", "en"),
            (2, "a a zz", "en"),
            (3, "", "en"),
            (4, "   ", "fr"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = {r["doc_id"]: r for r in tx.perplexity_buckets(docs, n_buckets=2).collect()}
    assert set(out) == {1, 2, 3, 4}
    for d in (3, 4):
        assert out[d]["n_tokens"] == 0
        assert out[d]["mean_nll"] is None
        assert out[d]["bucket"] == "tail"


def test_rrf_empty_rankings_raises_value_error(spark):
    from bohemia_kenya_data_pipeline_spark.operators import similarity as sim
    import pytest

    with pytest.raises(ValueError, match="at least one ranking"):
        sim.rrf_fuse([])


def _brute_force_spans(docs, n, min_docs):
    """Pure-Python reference for duplicate_spans: whitespace tokens,
    every n-gram's set of owning docs, the 1-based positions covered
    by n-grams owned by >= min_docs docs, then maximal runs of
    consecutive covered positions per doc."""
    toks = {d: t.split() for d, t in docs}
    owners = {}
    for d, t in toks.items():
        for p in range(len(t) - n + 1):
            owners.setdefault(tuple(t[p : p + n]), set()).add(d)
    out = []
    for d, t in toks.items():
        covered = set()
        for p in range(len(t) - n + 1):
            if len(owners[tuple(t[p : p + n])]) >= min_docs:
                covered.update(range(p + 1, p + n + 1))
        start = prev = None
        for pos in sorted(covered):
            if prev is not None and pos == prev + 1:
                prev = pos
                continue
            if start is not None:
                out.append((d, start, prev, prev - start + 1))
            start = prev = pos
        if start is not None:
            out.append((d, start, prev, prev - start + 1))
    return sorted(out)


def test_duplicate_spans_matches_brute_force_maximal_spans(spark):
    # the span plan against an independent pure-Python maximal-span
    # computation, over hot keys shared by many docs, min_docs > 2,
    # partial overlaps and docs with no duplicated shingles
    rows = [
        (1, "a b c d e f g h i j"),      # shares a full run with 2
        (2, "a b c d e f g h i j"),
        (3, "x y z a b c d e f g h i j w"),  # partial overlap
        (4, "unique tokens only here none shared at all ok fine"),
        (5, "a b c d e f g h i j"),      # 3-way hot shingles
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for md in (2, 3):
        got = sorted(
            map(tuple, dd.duplicate_spans(docs, n=4, min_docs=md).collect())
        )
        assert got == _brute_force_spans(rows, 4, md)
        assert got  # non-degenerate: the corpus above always yields spans
