"""Deduplication operators for large-scale document pipelines.

Scale pack: exact, MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. All are expressed as DataFrame plans whose
candidate-pair set grows ~linearly with data (band buckets / anchors),
never a full O(n²) cross join — that is the property that survives
100 TB.

Hash base: 64-bit ints derived from ``md5`` prefixes
(``conv(substr(md5(tok),1,8),16,10)``) so the DuckDB oracle can
reproduce signatures bit-for-bit — and md5 is stable across JVMs /
Python versions, unlike builtin ``hash``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import parquet_scan
from .text import bind_once, tokens

#: Mersenne prime 2^31-1 — classic universal-hash modulus.
MINHASH_PRIME = 2147483647

#: Deterministic (a, b) parameters for the minhash permutation family
#: h_i(x) = (a_i * x + b_i) mod P. Generated once from a fixed LCG so
#: the DuckDB oracle SQL can embed the identical constants.
def minhash_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    params: list[tuple[int, int]] = []
    state = seed
    for _ in range(n):
        state = (state * 1103515245 + 12345) % (2**31)
        a = state % (MINHASH_PRIME - 1) + 1
        state = (state * 1103515245 + 12345) % (2**31)
        b = state % MINHASH_PRIME
        params.append((a, b))
    return params


def token_hash64(tok: Column) -> Column:
    """Stable 64-bit-ish token hash shared with the DuckDB oracle:
    first 8 hex chars of md5 as a bigint."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (n consecutive tokens
    joined by space). Documents shorter than n tokens yield their
    full token string as a single shingle.

    The tokenized array is bound as a lambda variable via a
    one-element ``transform`` wrapper: embedding the split/filter
    subtree directly in the per-index lambda would re-evaluate it for
    EVERY sequence element — O(k²) per document, measured 7x slower at
    sf0.1. Higher-order lambdas get no common-subexpression
    elimination; the wrapper forces exactly one evaluation per row
    while keeping this a pure Column (usable in any projection).
    """

    def gram(tk: Column) -> Column:
        k = F.size(tk)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(k - n, F.lit(0))),
            lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
        )
        return F.when(k >= n, grams).otherwise(F.array(F.array_join(tk, " ")))

    return bind_once(tokens(text), gram)


# ---------------------------------------------------------------------------
# Bucket-size guard (LSH skew hardening)
# ---------------------------------------------------------------------------


def _cap_buckets(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket_size: int | None,
) -> DataFrame:
    """Bound per-bucket membership before a bucket self-join.

    Every LSH pair-generator in this module is linear in data volume
    but QUADRATIC in per-bucket membership: one pathologically hot
    bucket (boilerplate templates put 10^5-10^6 docs in a single band
    bucket on real pretraining corpora) turns the equi-join into
    10^10+ candidate pairs on a single join key. AQE skew-join splits
    the shuffle partition but not the O(c^2) pair count — the only
    real fix is to bound c before the join.

    The guard keeps a deterministic ``max_bucket_size``-member subset
    per bucket (row_number ordered by id), preserving partial recall
    inside oversized buckets at a bounded cap^2 pair cost.

    The window partitions by the same keys the join shuffles on, so
    the exchange is the one the join needs anyway. ``None`` disables
    the guard (exact semantics — the oracle-checked default).

    CONTRACT: run :func:`drop_exact_duplicates` first. Exact
    duplicates all but guarantee hot buckets (identical signature →
    identical bucket in every band) and are caught far cheaper by the
    hash-groupBy; the cap is for *near*-dup clusters and hash
    collisions, not a substitute for exact dedup.
    """
    if max_bucket_size is None:
        return rows
    if max_bucket_size < 2:
        raise ValueError(
            f"max_bucket_size={max_bucket_size}: a bucket needs >= 2 members to pair"
        )
    # rank <= cap alone suffices (rank never exceeds the bucket count,
    # so under-cap buckets pass whole) — one window, not a count plus
    # a rank
    wo = Window.partitionBy(*keys).orderBy(F.col(id_col))
    return (
        rows.withColumn("_bucket_rk", F.row_number().over(wo))
        .filter(F.col("_bucket_rk") <= max_bucket_size)
        .drop("_bucket_rk")
    )


def _bucket_stats(rows: DataFrame, keys: list[str], min_size: int) -> DataFrame:
    """Bucket-size histogram over band rows: (keys..., n_members) for
    buckets with at least ``min_size`` members. The log-able spill
    report: run with ``min_size = max_bucket_size + 1`` to see exactly
    which buckets a cap would truncate, and by how much."""
    return (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= min_size)
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct text
    with the minimum id as representative and the duplicate count.

    Hash-groupBy on md5(text) — the 100 TB plan shuffles 16-byte keys,
    not document bodies.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("representative_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per distinct text (the dedup *apply* side)."""
    w_min = exact_duplicates(df, text_col, id_col).select(
        F.col("representative_id").alias(id_col)
    )
    return df.join(w_min, id_col, "left_semi")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (anchored pairwise)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.1,
    shingle_n: int = 1,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Jaccard similarity over distinct word-shingle sets — the
    *verify* stage of generate→verify near-dup.

    ``candidates`` is an (id_a, id_b) DataFrame of pairs worth
    scoring; by default it is :func:`minhash_lsh_pairs` over the same
    input, so the candidate set grows linearly with data + near-dup
    cluster size (never O(n²)). The shingle sets are attached with two
    shuffle-partitioned equi-joins on doc id — the 100 TB plan.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    if candidates is None:
        candidates = minhash_lsh_pairs(
            df, text_col, id_col, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, max_bucket_size=max_bucket_size,
        )
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(text_col, shingle_n)).alias("sh"),
    )
    pairs = (
        candidates.select("id_a", "id_b")
        .join(sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 2,
    seed: int = 42,
    plan: str = "map",
) -> DataFrame:
    """MinHash signatures: for each permutation i, min over the doc's
    shingle hashes of (a_i*h + b_i) mod P. Returns
    (id, sig array<bigint>). Both plans produce identical values —
    PRECONDITION: ids are unique (the agg plan merges duplicate ids
    via groupBy, the map plan emits one row per input row).

    ``plan='map'`` (default): per-row array fold — hash the distinct
    shingle array once into a staged column, then ``array_min`` over
    each permuted transform. ZERO shuffle, signatures materialize in
    the scan stage; measured ~1.7x faster standalone.

    ``plan='agg'``: explode → shuffle on id → 16 min-aggregates. The
    shuffle is a materialization point whose exchange subtree is
    REUSED when the result feeds both sides of a self-join — use this
    from :func:`minhash_lsh_pairs`, where the map plan would be
    evaluated once per join side and lose its advantage.
    """
    if plan not in ("map", "agg"):
        raise ValueError(f"unknown plan {plan!r}: use 'map' or 'agg'")
    params = minhash_params(num_hashes, seed)
    # reduce mod P *before* the multiply: keeps a*h < 2^62 so the
    # arithmetic is exact int64 in any engine (incl. the DuckDB oracle,
    # which errors on overflow instead of wrapping).
    # Each permutation's fold is emitted as ONE parsed SQL expression:
    # the value-by-value Column chain cost ~8-15 py4j round trips per
    # permutation per call — at num_hashes=16 that is hundreds of
    # driver round trips of pure plan construction per invocation
    # (r14, guide §7.3); the parsed trees are identical Catalyst nodes
    # (same %, same int-literal coercion), so values are unchanged.
    if plan == "agg":
        sh = df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("shingle"),
        )
        h = sh.withColumn("h", token_hash64(F.col("shingle")) % MINHASH_PRIME)
        mins = [
            F.expr(f"min((h * {a} + {b}) % {MINHASH_PRIME}) AS s{i}")
            for i, (a, b) in enumerate(params)
        ]
        sig = h.groupBy("id").agg(*mins)
        return sig.select("id", F.array(*[f"s{i}" for i in range(num_hashes)]).alias("sig"))
    # stage the hashed array in its own projection so the md5 work is
    # done once, not re-inlined into each of the num_hashes folds.
    hs = F.transform(
        F.array_distinct(shingles(text_col, shingle_n)),
        lambda s: token_hash64(s) % MINHASH_PRIME,
    )
    staged = df.select(F.col(id_col).alias("id"), hs.alias("_hs"))
    mins = [
        F.expr(f"array_min(transform(_hs, h -> (h * {a} + {b}) % {MINHASH_PRIME}))")
        for a, b in params
    ]
    return staged.select("id", F.array(*mins).alias("sig"))


def _minhash_band_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    seed: int,
) -> DataFrame:
    """(id, band, bucket) rows: one per (doc, band), bucket = md5 of
    the band's signature slice. Shared by the pair join and the
    bucket-stats report so both see identical buckets."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    # agg plan: its shuffle exchange is reused across both self-join
    # sides, so signatures compute once (see minhash_signatures).
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, seed, plan="agg")
    # one parsed expression for the whole banded-bucket array (same
    # plan-construction class as the signature folds above)
    band_structs = ", ".join(
        f"struct({b} AS band, md5(array_join(transform("
        f"slice(sig, {b * r + 1}, {r}), x -> CAST(x AS STRING)), ',')) AS bucket)"
        for b in range(bands)
    )
    return sig.select(
        "id", F.expr(f"explode(array({band_structs}))").alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: split signatures into ``bands`` bands of
    r = num_hashes/bands rows; docs sharing any band bucket are
    candidates. Returns distinct (id_a, id_b) with id_a < id_b.

    The band-bucket self-join is an equi-join on (band, bucket-hash) —
    shuffle-partitioned, linear in data + near-dup cluster sizes.

    ``max_bucket_size`` bounds per-bucket membership before the join
    (see :func:`_cap_buckets` — the hot-bucket guard for real corpora;
    run :func:`drop_exact_duplicates` first as the contract). Use
    :func:`minhash_bucket_stats` to size the cap from data.
    """
    band_rows = _minhash_band_rows(df, text_col, id_col, num_hashes, bands, shingle_n, seed)
    band_rows = _cap_buckets(band_rows, ["band", "bucket"], "id", max_bucket_size)
    a = band_rows.select(F.col("id").alias("id_a"), "band", "bucket")
    b = band_rows.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
    seed: int = 42,
    min_size: int = 2,
) -> DataFrame:
    """(band, bucket, n_members) for minhash-LSH buckets with at least
    ``min_size`` members — the spill report for sizing
    ``max_bucket_size`` in :func:`minhash_lsh_pairs`."""
    rows = _minhash_band_rows(df, text_col, id_col, num_hashes, bands, shingle_n, seed)
    return _bucket_stats(rows, ["band", "bucket"], min_size)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprints: per bit position, sign of the sum over
    tokens of ±1 (from the token hash's bit) → packed bigint.

    Pure expression plan: explode tokens → per-(doc,bit) weighted sum →
    pack. Returns (id, simhash bigint).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("tok"),
    ).withColumn("h", token_hash64(F.col("tok")))
    bit_sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    packed = F.lit(0).cast("bigint")
    for i in range(bits):
        packed = packed + F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("bigint")).otherwise(0)
    return bit_sums.select("id", packed.alias("simhash"))


def hamming_distance(a: Column, b: Column, bits: int = 32) -> Column:
    """Hamming distance between two packed simhash values."""
    x = a.bitwiseXOR(b)
    return sum(
        F.shiftright(x, i).bitwiseAND(F.lit(1)) for i in range(bits)
    ).cast("int")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.3,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, with
    multi-table sign-LSH candidate generation: each side hashes into
    ``n_tables`` independent 2^n_planes-bucket tables; candidates are
    the distinct union of per-table bucket-join matches — candidate
    recall 1-(1-p^k)^L (p = 1-θ/π) instead of single-table p^k, at
    join volume ~ L·n²/2^k per bucket skew. Never a full cross join.

    ``max_bucket_size`` bounds per-(table,bucket) membership before
    the join (see :func:`_cap_buckets`); dedup identical vectors first
    (exact-dup embeddings land in the same bucket of every table)."""
    from .similarity import cosine_prenormed, lsh_table_buckets, norm, random_hyperplanes

    planes = random_hyperplanes(dim, n_planes * n_tables, seed)
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("n", norm(F.col("v")))
        .withColumn("tb", F.explode(lsh_table_buckets(F.col("v"), planes, n_tables)))
    )
    base = _cap_buckets(base, ["tb"], "id", max_bucket_size)
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("n").alias("n_a"), "tb")
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("n").alias("n_b"), "tb")
    pairs = (
        a.join(b, "tb")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        pairs.withColumn(
            "cosine",
            F.round(
                cosine_prenormed(F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")), 4
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Near-dup clusters (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list — the step
    that turns near-dup PAIRS into near-dup CLUSTERS so "keep one doc
    per cluster" is well-defined under transitivity (a~b, b~c ⇒ one
    survivor of {a,b,c}, even if a~c was never a candidate pair).

    Min-label propagation: every node starts as its own component;
    each round takes the min over neighbors' labels (one equi-join +
    one groupBy per round) until a fixpoint. Converges in
    O(component diameter) rounds — near-dup clusters are shallow
    (template families link through hubs), so this is 3-5 rounds in
    practice; raises if ``max_iters`` rounds don't converge rather
    than returning silently-wrong labels. For graphs with pathological
    diameters, swap in the large-star/small-star contraction — same
    output contract.

    Returns (id, component) for every node appearing in ``pairs``;
    component = min reachable id.
    """
    half = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        half.union(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().select("id", F.col("id").alias("component"))
    ).persist()
    try:
        for _ in range(max_iters):
            nbr = (
                edges.join(labels.withColumnRenamed("id", "src"), "src")
                .groupBy("dst")
                .agg(F.min("component").alias("nbr_min"))
                .withColumnRenamed("dst", "id")
            )
            merged = labels.join(nbr, "id", "left").select(
                "id",
                "component",
                F.least(F.col("component"), F.coalesce("nbr_min", "component")).alias("new_component"),
            ).persist()
            changed = merged.filter(F.col("new_component") != F.col("component")).count()
            labels.unpersist()
            labels = merged.select("id", F.col("new_component").alias("component")).persist()
            merged.unpersist()
            if changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds — "
            "component diameter exceeds the cap; raise max_iters or use a "
            "star-contraction variant"
        )
    finally:
        edges.unpersist()


def drop_neardup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup *apply*: keep every unpaired doc, and the min-id
    representative of each near-dup cluster (transitively closed via
    :func:`connected_components`)."""
    comps = connected_components(pairs, id_a, id_b)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _simhash_band_rows(df: DataFrame, text_col: str, id_col: str, bits: int) -> DataFrame:
    """(id, simhash, band, chunk) rows for the 4-band simhash join."""
    n_bands = 4
    if bits % n_bands:
        raise ValueError("bits must be divisible by the band count (4)")
    sh = simhash(df, text_col, id_col, bits)
    width = bits // n_bands
    return sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the fingerprint into 4 bytes and
    equi-join on (band, byte) — by pigeonhole, any pair within
    hamming distance <= 3 of a 32-bit simhash agrees on at least one
    of the 4 bytes, so the banded join has PERFECT recall for
    max_hamming <= bands-1 while staying linear (no cross join).
    Exact hamming verifies the candidates.

    ``max_bucket_size`` bounds per-(band,chunk) membership before the
    join (see :func:`_cap_buckets`). NOTE: a cap voids the perfect-
    recall guarantee inside truncated buckets — dedup exact duplicates
    first (the contract), then size the cap from
    :func:`simhash_bucket_stats` so only pathological buckets clip.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds bands-1=3: the banded "
            "join would silently miss pairs (pigeonhole only covers <= bands-1)"
        )
    bands = _simhash_band_rows(df, text_col, id_col, bits)
    bands = _cap_buckets(bands, ["band", "chunk"], "id", max_bucket_size)
    a = bands.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "chunk")
    b = bands.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "chunk")
    cand = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", hamming_distance(F.col("sh_a"), F.col("sh_b"), bits))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    min_size: int = 2,
) -> DataFrame:
    """(band, chunk, n_members) for simhash bands with at least
    ``min_size`` members — spill report for ``max_bucket_size``."""
    rows = _simhash_band_rows(df, text_col, id_col, bits)
    return _bucket_stats(rows, ["band", "chunk"], min_size)


# ---------------------------------------------------------------------------
# Benchmark contamination (decontamination check)
# ---------------------------------------------------------------------------


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Flag corpus documents sharing word n-grams with a benchmark set —
    the standard pretraining decontamination check (a training doc that
    contains eval-set n-grams leaks the benchmark).

    Returns (id, n_hits): distinct contaminated n-grams per corpus doc,
    filtered to ``n_hits >= min_hits``.

    Shape: explode distinct shingles on both sides, equi-join on the
    shingle string, count per doc. The benchmark side is collapsed to
    DISTINCT grams first — at 100 TB the corpus side dominates and the
    deduped benchmark gram set is small (evals are MBs, not TBs), so
    AQE broadcasts it and the corpus side never shuffles. Joining on
    the gram string (not a 32-bit hash) keeps the check exact; at
    3-gram sizes the join key is ~tens of bytes, still scan-local.
    """
    c = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, n))).alias("g")
    )
    b = (
        benchmark.select(
            F.explode(F.array_distinct(shingles(text_col, n))).alias("g")
        )
        .distinct()
    )
    return (
        c.join(b, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def incremental_exact_dedup(
    batch: DataFrame,
    history_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_hash",
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup a NEW batch against an existing corpus hash store —
    the production ingest shape: the corpus is append-only and
    re-hashing 100 TB per ingest is not an option, so a (content_hash)
    store is maintained and each incoming batch anti-joins it.

    Returns ``(accepted, new_hashes)``: batch rows that are first-seen
    both within the batch (min-id representative per hash) and against
    history, plus the hash rows to append to the store after the batch
    commits.

    Scale: the batch side shuffles 16-byte hashes twice (within-batch
    groupBy, history anti-join); the history side is hash-only — at
    10^12 corpus docs the store is ~16 TB of hashes, a normal
    sort-merge anti-join, never the documents themselves.

    NULL text: the within-batch stage is :func:`drop_exact_duplicates`
    itself (one shared representative-selection rule, not a second
    copy), which keeps ONE min-id representative of the NULL-text
    group; a NULL hash can never match the store (SQL NULL equality),
    so that representative is always accepted and is EXCLUDED from
    ``new_hashes`` (a NULL row in the store would never match either).
    """
    in_batch = drop_exact_duplicates(batch, text_col, id_col)
    accepted = in_batch.withColumn(hash_col, F.md5(F.col(text_col))).join(
        history_hashes.select(hash_col).distinct(), hash_col, "left_anti"
    )
    return accepted, accepted.select(hash_col).where(F.col(hash_col).isNotNull())


def edit1_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_len: int = 64,
) -> DataFrame:
    """Pairs of rows whose strings are within edit distance 1 —
    generate→verify fuzzy matching for typo-class joins (the reference
    fixes typos with hand-written case_when maps,
    processing_utils.R:202-204; this finds the candidates at scale).

    FastSS deletion-neighborhood generation: each string s emits keys
    {s} ∪ {s minus one char}. Two strings at edit distance 1 ALWAYS
    share a key (substitution → same single deletion; insert/delete →
    the shorter string is itself a deletion of the longer), so the
    equi-join on keys is a complete candidate generator; exact
    ``levenshtein <= 1`` verification removes collisions (two
    different deletions can coincide, e.g. 'ab'/'ba'). Returns
    distinct (id_a, id_b) with id_a < id_b.

    Scale shape: keys per row = len+1 (bounded by ``max_len`` — longer
    strings are skipped, not truncated: a truncated key set would
    silently miss pairs), equi-join on the key hash, then an exact
    verify on the |candidates| — linear in data, quadratic only within
    identical-key groups (exact dups: run drop_exact_duplicates first,
    same contract as the LSH generators).
    """
    s = F.col(text_col)
    base = df.filter(F.length(s) <= max_len).select(F.col(id_col), s.alias("__s"))
    keys = base.select(
        F.col(id_col),
        "__s",
        F.explode(
            F.array_union(
                F.array(F.col("__s")),
                F.transform(
                    F.sequence(F.lit(1), F.length("__s")),
                    lambda i: F.concat(
                        F.col("__s").substr(F.lit(1), i - 1),
                        F.col("__s").substr(i + 1, F.length("__s")),
                    ),
                ),
            )
        ).alias("__k"),
    )
    a = keys.select(F.col(id_col).alias("id_a"), F.col("__s").alias("s_a"), "__k")
    b = keys.select(F.col(id_col).alias("id_b"), F.col("__s").alias("s_b"), "__k")
    return (
        a.join(b, "__k")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein(F.col("s_a"), F.col("s_b")) <= 1)
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_index_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
    seed: int = 42,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's minhash band rows as a queryable near-dup
    INDEX — the incremental counterpart of :func:`minhash_lsh_pairs`:
    signing 100 TB once and probing it per ingest batch replaces
    re-signing the whole corpus on every batch (the same
    amortization :func:`incremental_exact_dedup` gives exact dedup).

    The index stores (id, band, bucket) partitioned by ``band``, so a
    probe reads only the band partitions it joins (partition pruning)
    and the stored signature parameters MUST be reused by the probe —
    they are written to ``path/_params.json`` and validated by
    :func:`minhash_index_query`.
    """
    import json as _json

    rows = _minhash_band_rows(df, text_col, id_col, num_hashes, bands, shingle_n, seed)
    rows.write.mode(mode).partitionBy("band").parquet(path)
    spark0 = df.sparkSession
    if mode == "overwrite" and _hadoop_exists(
        spark0, _minhash_tombstone_path(path)
    ):
        # a rebuilt index starts clean: tombstones from a previous
        # index at the same path must not hide the new corpus
        jvm0 = spark0.sparkContext._jvm
        conf0 = spark0.sparkContext._jsc.hadoopConfiguration()
        tp = jvm0.org.apache.hadoop.fs.Path(_minhash_tombstone_path(path))
        tp.getFileSystem(conf0).delete(tp, True)
    params = {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n, "seed": seed}
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path + "/_params.json")
    out = p.getFileSystem(conf).create(p, True)
    out.write(bytearray(_json.dumps(params).encode()))
    out.close()


def read_minhash_index_params(spark, index_path: str) -> dict:
    """Signature parameters a minhash index was written with
    (the _params.json sidecar) — the single source probes must use."""
    import json as _json

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(index_path + "/_params.json")
    stream = p.getFileSystem(conf).open(p)
    try:
        return _json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()


def _minhash_tombstone_path(index_path: str) -> str:
    # sibling path, NOT inside the index dir (a nested parquet dataset
    # would be read as band-row data — same rule as the manifest
    # sidecars in operators/skipping.py)
    return index_path.rstrip("/") + "__tombstones"


def _hadoop_exists(spark, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def minhash_index_delete(
    deleted: DataFrame, index_path: str, id_col: str = "doc_id"
) -> None:
    """Remove documents from a minhash index WITHOUT rewriting it:
    append their ids to a tombstone sidecar that
    :func:`minhash_index_query` anti-joins before candidate
    generation — the same soft-delete shape as the reference's batch
    DELETE resolutions (``processing_utils.R:335-400``, C1 semantics),
    where the mutation list is tiny next to the corpus. The index's
    band partitions are untouched (no 100 TB rewrite for a
    delete batch); :func:`minhash_index_compact` folds tombstones
    into the band rows when they accumulate, and re-admitting a
    deleted id via :func:`minhash_index_extend` compacts first so the
    stale band rows never coexist with the fresh signature."""
    deleted.select(F.col(id_col).alias("id")).distinct().write.mode(
        "append"
    ).parquet(_minhash_tombstone_path(index_path))


def _minhash_tombstones(spark, index_path: str) -> DataFrame | None:
    path = _minhash_tombstone_path(index_path)
    if not _hadoop_exists(spark, path):
        return None
    return parquet_scan(spark, path).select("id").distinct()


def minhash_index_compact(spark, index_path: str) -> None:
    """Fold accumulated tombstones into the index: rewrite the band
    rows WITHOUT the deleted ids (one index-sized pass, keeping the
    band partitioning) and drop the tombstone sidecar — run on a
    cadence, like any lakehouse vacuum, so query-time anti-join cost
    stays bounded. After compaction the index is byte-equivalent in
    content to one built over the surviving corpus."""
    from .skipping import _swap_in

    tomb = _minhash_tombstones(spark, index_path)
    if tomb is None:
        return
    rows = parquet_scan(spark, index_path).join(F.broadcast(tomb), "id", "anti")
    # partitionBy-preserving staged swap: write to a stage sibling,
    # then replace (Spark cannot overwrite a path it is reading)
    stage = index_path.rstrip("/") + "__stage"
    rows.write.mode("overwrite").partitionBy("band").parquet(stage)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(index_path).getFileSystem(conf)
    params_tmp = read_minhash_index_params(spark, index_path)
    _swap_in(spark, index_path, stage)
    # the staged swap drops the sidecar params file — restore it
    import json as _json

    p = jvm.org.apache.hadoop.fs.Path(index_path + "/_params.json")
    out = p.getFileSystem(conf).create(p, True)
    out.write(bytearray(_json.dumps(params_tmp).encode()))
    out.close()
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(_minhash_tombstone_path(index_path)),
        True,
    )


def minhash_index_stats(spark, index_path: str) -> DataFrame:
    """Health report for a persistent minhash index: per band, stored
    vs live band rows (tombstone debt — the :func:`minhash_index_compact`
    cadence signal) and the live bucket profile — distinct buckets and
    the largest bucket's size, the hot-bucket skew that
    ``max_bucket_size`` capping exists for (a bucket that grows past
    the cap in the LIVE index means probes are silently truncating
    that neighborhood; time to re-shingle or re-band). One scan of the
    (id, band, bucket) rows — text is never stored, so this is always
    index-metadata-sized I/O — two map-side-combined groupBys, and the
    result is B rows (B = bands)."""
    rows = parquet_scan(spark, index_path).select("id", "band", "bucket")
    tomb = _minhash_tombstones(spark, index_path)
    live = rows if tomb is None else rows.join(F.broadcast(tomb), "id", "anti")
    stored = rows.groupBy("band").agg(F.count(F.lit(1)).alias("stored_rows"))
    per_bucket = live.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    lv = per_bucket.groupBy("band").agg(
        F.sum("n").alias("live_rows"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket"),
    )
    return (
        stored.join(lv, "band", "left")
        .fillna(0, subset=["live_rows", "n_buckets", "max_bucket"])
        .select(
            F.col("band").cast("int").alias("band"),
            "stored_rows",
            "live_rows",
            "n_buckets",
            "max_bucket",
        )
        .orderBy("band")
    )


def maintain_minhash_index(
    spark,
    index_path: str,
    new_docs: DataFrame | None = None,
    min_live_share: float = 0.8,
    max_live_bucket: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """One idempotent maintenance tick for the near-dup index — the
    minhash face of ``jobs.retrieval.maintain_vector_index``: sign and
    append ``new_docs`` (delta-sized; re-admissions compact first via
    :func:`minhash_index_extend`'s own guard), then read
    :func:`minhash_index_stats` ONCE and act on it — tombstone debt
    past ``min_live_share`` → :func:`minhash_index_compact`; a live
    bucket past ``max_live_bucket`` → FLAGGED, not fixed (a hot bucket
    means probes with that cap silently truncate the neighborhood; the
    fix is re-shingling or re-banding, a corpus-sized rebuild the
    caller schedules — this tick never pays more than one index-sized
    pass). Idempotent for real (ADVICE r10, the same guard as the
    vector tick): ``new_docs`` is anti-joined against the ids already
    LIVE in the index (one column-pruned (id) scan) before signing,
    so a scheduler retrying a failed tick with the same batch cannot
    double-append band rows; a live id with CHANGED text is
    delete + re-admit, never a bare re-extend. Returns the decision
    trail: ``{"ingested_docs", "extended", "live_share", "compacted",
    "hot_buckets"}`` (``live_share`` is the POST-ingest share the
    compaction decision actually read)."""
    report = {
        "ingested_docs": 0,
        "extended": False,
        "live_share": None,
        "compacted": False,
        "hot_buckets": 0,
    }
    if new_docs is not None:
        live_ids = parquet_scan(spark, index_path).select(
            F.col("id").alias(id_col)
        )
        tomb = _minhash_tombstones(spark, index_path)
        if tomb is not None:
            # tombstoned ids still count as a delta: re-admission runs
            # through minhash_index_extend's compact-first guard
            live_ids = live_ids.join(
                F.broadcast(tomb.select(F.col("id").alias(id_col))),
                id_col, "anti",
            )
        # eager localCheckpoint: the delta's plan READS the index, and
        # a re-admitting extend REWRITES it (compact-first guard) — a
        # lazy delta would re-list deleted files mid-tick
        delta = new_docs.join(
            live_ids.distinct(), id_col, "anti"
        ).localCheckpoint(eager=True)
        n_delta = delta.count()
        report["ingested_docs"] = int(n_delta)
        if n_delta:
            minhash_index_extend(
                delta, index_path, text_col=text_col, id_col=id_col
            )
            report["extended"] = True
    stats = minhash_index_stats(spark, index_path).collect()  # B rows
    stored = sum(r.stored_rows for r in stats)
    live = sum(r.live_rows for r in stats)
    share = live / stored if stored else 1.0
    report["live_share"] = round(share, 6)
    if max_live_bucket is not None:
        report["hot_buckets"] = sum(
            1 for r in stats if r.max_bucket > max_live_bucket
        )
    if share < min_live_share:
        minhash_index_compact(spark, index_path)
        report["compacted"] = True
    return report


def minhash_index_query(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Probe a stored minhash index with a NEW batch: returns distinct
    (new_id, index_id) candidate pairs — exactly the (new x corpus)
    slice of what :func:`minhash_lsh_pairs` would emit over the union
    (golden-proven). Signature parameters come from the index itself,
    so a probe can never silently use mismatched hashing.

    Scale shape: sign ONLY the batch, equi-join on (band, bucket)
    against the parquet index (band partitions prune; the bucket join
    shuffles batch-sized data against an index scan). The optional
    ``max_bucket_size`` caps INDEX-side bucket membership, same
    contract as the batch generators.
    """
    spark = new_docs.sparkSession
    params = read_minhash_index_params(spark, index_path)
    batch_rows = _minhash_band_rows(
        new_docs,
        text_col,
        id_col,
        params["num_hashes"],
        params["bands"],
        params["shingle_n"],
        params["seed"],
    ).select(F.col("id").alias("new_id"), "band", "bucket")
    index = parquet_scan(spark, index_path).select(
        F.col("id").alias("index_id"), "band", "bucket"
    )
    tomb = _minhash_tombstones(spark, index_path)
    if tomb is not None:
        # deleted docs stop surfacing as candidates AND stop counting
        # toward bucket caps — exactly as if the index had been built
        # over the surviving corpus (golden-tested)
        index = index.join(
            F.broadcast(tomb.select(F.col("id").alias("index_id"))),
            "index_id",
            "anti",
        )
    index = _cap_buckets(index, ["band", "bucket"], "index_id", max_bucket_size)
    return (
        batch_rows.join(index, ["band", "bucket"])
        .select("new_id", "index_id")
        .distinct()
    )


def minhash_index_extend(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Admit a probed batch INTO the index: sign only the batch with
    the index's stored parameters and append its band rows into the
    existing band partition directories — a delta-sized write, so the
    steady-state ingest loop is probe (:func:`minhash_index_query`) ->
    keep the survivors -> extend, and the 100 TB corpus is re-signed
    exactly once, ever. The composition is exact: an index extended
    batch-by-batch holds the same band rows as one built over the
    concatenated corpus (same signature params by construction —
    golden-tested), so later probes see identical candidates. Mirrors
    ``extend_ann_index``'s append-only contract, without the drift
    caveat: minhash signatures have no trained state to go stale.

    Re-admitting a previously deleted id triggers
    :func:`minhash_index_compact` first (the document is back in the
    corpus, so it must surface as a candidate again — but its STALE
    band rows must not coexist with the fresh signature, or a changed
    text would keep matching through its old buckets and the
    duplicate rows would double-count toward ``max_bucket_size``
    caps). The detection is one broadcast semi-join over the delta;
    the index-sized compaction is paid only when a batch actually
    re-admits, so the steady-state ingest loop stays delta-sized."""
    spark = new_docs.sparkSession
    params = read_minhash_index_params(spark, index_path)
    tomb = _minhash_tombstones(spark, index_path)
    if tomb is not None:
        n_readds = (
            new_docs.select(F.col(id_col).alias("id"))
            .join(F.broadcast(tomb), "id", "semi")
            .count()
        )
        if n_readds:
            minhash_index_compact(spark, index_path)
    rows = _minhash_band_rows(
        new_docs,
        text_col,
        id_col,
        params["num_hashes"],
        params["bands"],
        params["shingle_n"],
        params["seed"],
    )
    rows.write.mode("append").partitionBy("band").parquet(index_path)


# ---------------------------------------------------------------------------
# Semantic (embedding-cluster) dedup — SemDeDup-style
# ---------------------------------------------------------------------------


def semantic_anchor_vectors(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_anchors: int = 8,
) -> list[list[float]]:
    """Deterministic anchor vectors for semantic-dedup bucketing: the
    ``n_anchors`` corpus vectors with the smallest md5(id) — the same
    order-stable, RNG-free seeding rule as IVF centroid init
    (``similarity.ivf_train_centroids``). Driver traffic is k×dim
    doubles (centroid-like metadata), scale-safe.

    Anchors can be swapped for trained IVF centroids when available;
    the md5-seeded anchors are the engine-portable default that a SQL
    oracle can reproduce exactly (no Lloyd iterations to mirror).
    """
    rows = (
        emb.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("_h", F.md5(F.col("id").cast("string")))
        .orderBy("_h")
        .limit(n_anchors)
        .collect()
    )
    if not rows:
        raise ValueError("cannot pick anchors from an empty corpus")
    return [list(r.v) for r in rows]


def assign_semantic_cluster(
    emb: DataFrame,
    anchors: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, v, nv, cid): nearest-anchor assignment by ROUNDED cosine
    (4 dp) with smallest-anchor-index tie-break.

    Rounding before the argmax is load-bearing for engine portability:
    raw float cosines can differ in the last ulp across engines
    (different fold orders), flipping the argmax when two anchors are
    nearly tied. Rounded scores either agree or tie; ties break on the
    anchor index identically everywhere. Pure Column expressions —
    the anchor fold runs map-side in the scan stage, no shuffle.
    """
    from .similarity import _sql_dbl, cosine, norm

    # one SQL parse, not k×dim py4j F.lit calls (see _centroid_literal)
    cents = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_sql_dbl(x) for x in a) + ")" for a in anchors
        )
        + ")"
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col).alias("id"), v.alias("v")).withColumn(
        "nv", norm(F.col("v"))
    )
    scores = F.transform(cents, lambda a: F.round(cosine(F.col("v"), a), 4))
    # array_position returns the FIRST index of the max — smallest
    # anchor index wins ties (1-based -> 0-based)
    cid = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    return base.withColumn("cid", cid)


def semantic_dedup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_anchors: int = 8,
    threshold: float = 0.8,
    anchors: list[list[float]] | None = None,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): bucket embeddings by nearest anchor/centroid,
    generate candidate pairs ONLY within a bucket (equi-join on cid),
    verify with exact cosine >= ``threshold``.

    Complements ``embedding_neardup_pairs`` (sign-LSH): LSH recall
    follows the band S-curve, while cluster bucketing is data-adaptive
    — semantically dense regions land in one bucket, so high-threshold
    duplicates pair with near-perfect recall when clusters are larger
    than duplicate groups.

    Scale story (100 TB): assignment is a map-side fold over k anchor
    literals (no shuffle); the only shuffle is the cid equi-join.
    Within-cluster candidates are quadratic in CLUSTER size, the same
    hazard as an LSH hot bucket — ``max_cluster_size`` applies the
    shared ``_cap_buckets`` guard (deterministic per-cluster sample), and
    ``semantic_cluster_stats`` prices the cap before the join runs.
    For web-scale corpora raise ``n_anchors`` so mean cluster size
    stays O(corpus / n_anchors) bounded; anchors stay driver metadata
    (k×dim doubles, same contract as IVF centroids).

    Returns (id_a, id_b, cid, cosine) with id_a < id_b, cosine
    rounded to 4 dp.

    Pair-scoring parallelism (r15): the planner broadcasts the
    (anchor-bucketed) build side when it fits, so the scoring task
    count equals the PROBE side's scan
    splits — a corpus smaller than one ``maxPartitionBytes`` split
    scores every within-cluster pair in ONE task no matter how many
    cores exist (measured at the 10x replica: 25.3M pairs, 96 s
    single-task vs 10.3 s spread — block-SALTING cannot fix this
    because a broadcast join has no per-key partitions to salt). So
    the probe side is repartitioned by id hash to
    2 x defaultParallelism ONLY when its natural partitioning is below
    the session's parallelism — a no-op decision at production corpus
    sizes where the scan already yields thousands of splits, so the
    extra exchange is never paid at scale.
    """
    from .similarity import cosine_prenormed_fixed

    if anchors is None:
        anchors = semantic_anchor_vectors(emb, vec_col, id_col, n_anchors)
    assigned = assign_semantic_cluster(emb, anchors, vec_col, id_col)
    assigned = _cap_buckets(assigned, ["cid"], "id", max_cluster_size)
    probe = assigned
    target = emb.sparkSession.sparkContext.defaultParallelism
    if assigned.rdd.getNumPartitions() < target:
        probe = assigned.repartition(2 * target, "id")
    a = probe.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nv").alias("na"), "cid"
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nv").alias("nb"), "cid"
    )
    # fixed-dim unrolled cosine: bit-identical to the fold (same IEEE
    # order, guarded fallback for malformed rows) but codegen'd — the
    # anchors pin the corpus dimension (r14; see cosine_prenormed_fixed)
    dim = len(anchors[0])
    return (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                cosine_prenormed_fixed("va", "vb", F.col("na"), F.col("nb"), dim), 4
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cid", "cosine")
    )


def semantic_cluster_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_anchors: int = 8,
    anchors: list[list[float]] | None = None,
    min_size: int = 2,
) -> DataFrame:
    """(cid, n_members) per semantic cluster with at least ``min_size``
    members — the spill report for sizing ``max_cluster_size`` (run
    with ``min_size = cap + 1`` to see exactly what a cap would clip,
    same contract as the LSH bucket stats)."""
    if anchors is None:
        anchors = semantic_anchor_vectors(emb, vec_col, id_col, n_anchors)
    rows = assign_semantic_cluster(emb, anchors, vec_col, id_col)
    return _bucket_stats(rows, ["cid"], min_size)


def drop_semantic_dups(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_anchors: int = 8,
    threshold: float = 0.8,
    anchors: list[list[float]] | None = None,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Semantic-dedup *apply*: keep every semantically-unpaired row and
    the min-id representative of each duplicate cluster (pairs closed
    transitively via :func:`connected_components` — same apply contract
    as :func:`drop_neardup_clusters`)."""
    pairs = semantic_dedup_pairs(
        emb, vec_col, id_col, n_anchors, threshold, anchors, max_cluster_size
    )
    return drop_neardup_clusters(emb, pairs, id_col)


def drop_exact_duplicates_best(
    df: DataFrame,
    quality_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup apply: per distinct text keep the row with
    the HIGHEST ``quality_col`` (ties break on min id) instead of the
    min-id row — the curation policy when duplicates differ in
    metadata (longest extraction, freshest crawl, best source score).
    One window over the same md5-content shuffle the min-id apply
    uses; deterministic under ties by construction.
    """
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return (
        df.withColumn("_dd_rk", F.row_number().over(w))
        .filter(F.col("_dd_rk") == 1)
        .drop("_dd_rk")
    )


def duplicate_spans(
    df: DataFrame,
    n: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-substring detection (the token-level dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better" — suffix-array duplicate spans, re-expressed relationally):
    find every maximal token range that appears verbatim in at least
    ``min_docs`` distinct documents.

    A position ``p`` in a document is *duplicated* when its ``n``-token
    shingle starting at ``p`` also occurs in another document.
    Overlapping / adjacent duplicated positions are merged into maximal
    spans (gaps-and-islands over the position axis), so a boilerplate
    paragraph shows up once as ``[span_start, span_end]``, not as
    dozens of overlapping n-grams. Downstream, the spans are the
    cut-list for substring-level dedup (remove the range, keep the
    rest of the document — unlike document-level dedup which throws
    the whole doc away).

    Plan (no suffix array needed — hashing gives the same n-gram
    equality classes): positional shingles (scan-local explode) →
    120-bit md5 shingle key, carried as TWO 60-bit bigints (h1, h2 =
    md5 hex chars 1-15 / 16-30; a single 32-bit key would collide with
    certainty at corpus scale and silently cut spans from unique
    documents, and 2^120 makes a false equality astronomically
    unlikely at any corpus size) → duplicated positions → per-doc
    ordered window merging islands.

    ONE position shuffle on the 16-byte key, with the distinct-doc
    count computed in-partition as ``max(dense_rank over (key ORDER BY
    doc))`` — the gram+md5 pass runs ONCE and there is no second
    (key, doc)-distinct shuffle or join-back: 1.5 s vs 3.1 s for a
    two-pass distinct → count → semi-join plan on the bench corpus
    (r14, identical rows), and 2.34 vs 4.74 s even on single-shingle
    hot keys (``BENCH_skew_r15.json``). 100 TB: every stage is linear
    in corpus token count.

    Returns (id, span_start, span_end, span_tokens) with 1-based
    token positions, span_end inclusive.
    """
    def grams(tk: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
        )

    md = F.md5(F.col("col"))
    pos = (
        df.filter(F.size(tokens(text_col)) >= n)
        .select(F.col(id_col), F.posexplode(bind_once(tokens(text_col), grams)))
        .select(
            id_col,
            (F.col("pos") + 1).alias("pos"),
            F.conv(F.substring(md, 1, 15), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring(md, 16, 15), 16, 10).cast("bigint").alias("h2"),
        )
    )
    w_key = Window.partitionBy("h1", "h2").orderBy(id_col)
    w_all = Window.partitionBy("h1", "h2").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dup_pos = (
        pos.withColumn("__dr", F.dense_rank().over(w_key))
        .withColumn("__nd", F.max("__dr").over(w_all))
        .filter(F.col("__nd") >= min_docs)
        .select(id_col, "pos")
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup_pos.withColumn("prev_end", F.max(F.col("pos") + n - 1).over(w_prev))
    flagged = flagged.withColumn(
        "new_s",
        F.when(
            F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end") + 1), 1
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_s").over(w_run))
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            F.max(F.col("pos") + n - 1).cast("bigint").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level dedup APPLY (the transform Lee et al. 2022 run
    after finding duplicate spans): cut every token range reported by
    :func:`duplicate_spans` out of each document and keep the rest —
    unlike document-level dedup, a doc sharing one boilerplate
    paragraph loses only that paragraph.

    Plan: spans are aggregated to one SORTED per-doc array (few spans
    per doc by construction — they are maximal and disjoint),
    LEFT-joined back onto the corpus, and the cut happens scan-local
    as an O(#spans) fold: each step appends the NATIVE ``slice`` of
    tokens between the previous span's end and this span's start, the
    finisher appends the tail after the last span. The previous
    formulation filtered the token array with a per-position
    covered-by-some-span lambda — O(tokens × spans) interpreted
    lambda invocations per doc; this one runs O(spans) fold steps
    whose bodies are single array kernels (slice/concat), so the
    interpreted work no longer scales with document length (VERDICT
    r7 ask 3; the residual ``aggregate`` is bounded by the per-doc
    span count). One extra equi-join on the doc key beyond the
    span-finding plan itself; no explode of covered positions. Docs
    with no spans pass through verbatim (empty-array fold = one tail
    slice of the whole token array); a doc duplicated wall-to-wall
    keeps an empty string (caller policy whether to drop). A
    ``greatest`` guard keeps the cursor monotone, so even overlapping
    input spans (impossible from ``duplicate_spans``) cannot
    double-emit a token.

    Returns (id, text_clean, n_tokens_kept, n_tokens_removed).
    """
    spans = duplicate_spans(df, n=n, text_col=text_col, id_col=id_col, min_docs=min_docs)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("spans")
    )

    def cut(tk: Column) -> Column:
        sz = F.size(tk)
        acc0 = F.struct(
            F.lit(1).alias("nxt"), F.array().cast("array<string>").alias("kept")
        )

        def step(acc: Column, s: Column) -> Column:
            start = s["span_start"].cast("int")
            end = s["span_end"].cast("int")
            take = F.greatest(F.lit(0), start - acc["nxt"])
            return F.struct(
                F.greatest(acc["nxt"], end + 1).alias("nxt"),
                F.concat(acc["kept"], F.slice(tk, acc["nxt"], take)).alias("kept"),
            )

        def fin(acc: Column) -> Column:
            tail = F.slice(
                tk, acc["nxt"], F.greatest(F.lit(0), sz - acc["nxt"] + 1)
            )
            kept = F.concat(acc["kept"], tail)
            return F.struct(
                F.array_join(kept, " ").alias("text_clean"),
                F.size(kept).cast("bigint").alias("n_tokens_kept"),
                (sz - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
            )

        return F.aggregate(F.col("spans"), acc0, step, fin)

    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    joined = df.join(per_doc, id_col, "left").withColumn(
        "spans", F.coalesce(F.col("spans"), empty)
    )
    out = joined.withColumn("__c", bind_once(tokens(text_col), cut))
    return out.select(
        id_col,
        F.col("__c.text_clean").alias("text_clean"),
        F.col("__c.n_tokens_kept").alias("n_tokens_kept"),
        F.col("__c.n_tokens_removed").alias("n_tokens_removed"),
    )
