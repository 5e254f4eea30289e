"""File-manifest data skipping: per-FILE min/max (+ optional bloom)
statistics in a sidecar, and pruned reads that never OPEN files that
cannot match — the lakehouse data-skipping contract (Delta/Iceberg
file statistics) on plain parquet directories, no table format
required.

Why this matters at 100 TB: partition pruning only helps along the
partition columns; a predicate on any OTHER column still lists and
opens every file. Parquet row-group stats do skip row groups, but only
AFTER each file's footer has been fetched and parsed — on object
storage that is one round trip per file, and a 100 TB table is
~100k-1M files. A manifest is ONE metadata-sized dataset (a row per
file) that the planner scans instead, so the driver can hand Spark the
exact file list; unmatched files cost nothing at all. Same division of
labor as ``jobs.retrieval``'s probed-cid partition pruning: prune at
the FILE level first, let the engine's row-level machinery finish.

Soundness: min/max pruning keeps every file whose range intersects the
predicate (NULLs never satisfy a comparison, so all-NULL files drop
safely); blooms have no false negatives. False positives only widen
the kept set, and :func:`read_with_skipping` re-applies the EXACT
predicate after the pruned scan — the end result equals the full scan
+ filter bit-for-bit, which is what the registered oracles check.

Reference parity: the reference pipeline re-reads its whole history
prefix every run (e.g. ``05.run_anomaly_detection.R:82-104`` scans all
landed snapshots to recompute anomalies); a manifest turns that regime
into an open-only-what-matches plan without changing the storage.
"""

from __future__ import annotations

import json as _json
import os as _os
import re as _re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df, parquet_scan
from .bloom import DEFAULT_N_HASHES, _positions

MANIFEST_SUFFIX = "__manifest"

#: Per-file bloom default: 2^16 bits = 8 KiB per file — sized for
#: ~10-20k keys/file at <1% FP (see bloom.py sizing note); the whole
#: manifest for a 100k-file table is still < 1 GiB, a metadata scan.
FILE_BLOOM_N_BITS = 1 << 16


def _manifest_root(path: str) -> str:
    # sibling path, NOT inside the data dir (a nested parquet dataset
    # would be read as table data — same rule as the ANN sidecars)
    return path.rstrip("/") + MANIFEST_SUFFIX


def _stats_path(path: str) -> str:
    return _manifest_root(path) + "/stats"


def _bloom_path(path: str) -> str:
    return _manifest_root(path) + "/bloom"


def _params_path(path: str) -> str:
    return _manifest_root(path) + "/_params.json"


def _canon_col(c: Column) -> Column:
    """Canonical file name: ``input_file_name()`` renders local files
    as ``file:///x`` while the Hadoop listing renders ``file:/x`` —
    strip ONLY the local-file scheme so both sides compare equal
    (remote schemes like ``s3a://`` render identically on both sides
    and stay untouched, so the stored name is always readable)."""
    return F.regexp_replace(c, r"^file:/+", "/")


def _canon_name(s: str) -> str:
    return _re.sub(r"^file:/+", "/", s)


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf), p


#: per-process memo of "is fs.defaultFS the local filesystem" — the
#: Hadoop conf is immutable for the life of the session, so one check
#: suffices (ADVICE r14).
_DEFAULT_FS_LOCAL: bool | None = None


def _default_fs_is_local(spark: SparkSession | None = None) -> bool:
    """True iff the Hadoop conf's ``fs.defaultFS`` scheme is ``file``
    — the gate for treating SCHEME-LESS paths as driver-local. On a
    cluster whose defaultFS is hdfs:// or s3a://, a scheme-less path
    names the REMOTE filesystem; taking the native branch there would
    silently redirect sidecar writes/listings to driver-local disk
    (ADVICE r14, medium). Checked once and memoized; with no session
    to consult, answers False (keep the Hadoop path — correct for any
    defaultFS, just slower)."""
    global _DEFAULT_FS_LOCAL
    if _DEFAULT_FS_LOCAL is None:
        if spark is None:
            spark = SparkSession.getActiveSession()
        if spark is None:
            return False
        fs = (
            spark.sparkContext._jsc.hadoopConfiguration().get(
                "fs.defaultFS", "file:///"
            )
            or "file:///"
        )
        _DEFAULT_FS_LOCAL = fs.startswith("file:")
    return _DEFAULT_FS_LOCAL


def _local_root(path: str, spark: SparkSession | None = None) -> str | None:
    """Absolute local directory for ``path`` when it provably names
    the LOCAL filesystem, else ``None``. Gates the native metadata
    fast paths below: the Hadoop FileSystem round trip costs ~5 py4j
    socket exchanges PER FILE (hasNext/next/getPath/getLen/
    getModificationTime), ~0.1-0.15 s per listing of a few dozen
    files — pure driver-side latency (guide §7.3) that an
    ``os.scandir`` walk gets for free in-process. Remote schemes
    (s3a://, hdfs://, ...) keep the Hadoop path unchanged; an explicit
    ``file://<authority>`` with a non-local authority is rejected
    rather than folded into the path (ADVICE r14); scheme-less paths
    are local only when ``fs.defaultFS`` says so."""
    if path.startswith("file:"):
        rest = path[5:]
        if rest.startswith("//"):
            # file://<authority>/<path>: only an empty or localhost
            # authority is ours — never merge a hostname into the path
            auth, _, tail = rest[2:].partition("/")
            if auth not in ("", "localhost"):
                return None
            return "/" + tail
        # file:/x — no authority component
        return rest if rest.startswith("/") else None
    if _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", path):
        return None  # any other scheme: hadoop handles it
    if not _default_fs_is_local(spark):
        return None  # scheme-less on a remote defaultFS: not ours
    return _os.path.abspath(path)


def _walk_local_files(root: str) -> list[tuple[str, int, int]]:
    """Recursive (abs_path, size_bytes, mtime_ms) of every regular
    file under ``root`` via ``os.scandir`` — the native twin of the
    Hadoop ``listFiles(recursive=True)`` walk. Raises if ``root`` is
    missing, matching the Hadoop path's FileNotFoundException.

    Follows symlinks like Hadoop's LocalFileSystem listing does
    (ADVICE r14 — a symlinked partition directory must not silently
    vanish from manifests on the native path), with a visited-inode
    guard so a symlink cycle terminates instead of recursing forever;
    broken symlinks are skipped (neither file nor dir)."""
    out: list[tuple[str, int, int]] = []
    seen: set[tuple[int, int]] = set()
    stack = [root]
    while stack:
        d = stack.pop()
        st = _os.stat(d)  # follows a symlinked dir; raises if missing
        key = (st.st_dev, st.st_ino)
        if key in seen:
            continue
        seen.add(key)
        with _os.scandir(d) as it:
            for e in it:
                if e.is_dir(follow_symlinks=True):
                    stack.append(e.path)
                elif e.is_file(follow_symlinks=True):
                    st = e.stat(follow_symlinks=True)
                    out.append((e.path, st.st_size, int(st.st_mtime * 1000)))
    return out


def _list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """(canonical name, size_bytes, mtime_ms) of every parquet data
    file under ``path`` — a driver-side metadata walk (no data read),
    the same metadata-sized class as :func:`prune_files`' name
    collect. size+mtime are the staleness fingerprint
    :func:`extend_file_manifest` compares against the manifest."""
    local = _local_root(path, spark)
    if local is not None:
        return sorted(
            (f, s, m)
            for f, s, m in _walk_local_files(local)
            if f.endswith(".parquet")
            and not _os.path.basename(f).startswith(("_", "."))
        )
    _, fs, p = _fs(spark, path)
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        out.append(
            (
                _canon_name(st.getPath().toString()),
                st.getLen(),
                st.getModificationTime(),
            )
        )
    return sorted(out)


def _stats_out_parts(n_files: int) -> int:
    """Output file count for a stats dataset: ~1M rows (one per table
    file, ~100 B each → ~100 MB files) per output part. The manifest
    for a 1M-file table is a handful of files; at bench scale it is
    ONE — previously the post-shuffle default left ~1 near-empty part
    file per shuffle partition (25-40 files for a 30-row manifest),
    and every pruned read re-paid their footer round trips (guide §6:
    small files hurt twice)."""
    import math as _math

    return max(1, _math.ceil(n_files / 1_000_000))


def _bloom_out_parts(n_files: int, n_bits: int) -> int:
    """Output file count for a bloom word table: n_files x n_bits/64
    rows of ~24 B; target ~128 MB per part."""
    import math as _math

    return max(1, _math.ceil(n_files * (n_bits // 64) * 24 / (128 * 1024 * 1024)))


def _swap_in(spark: SparkSession, path: str, stage: str) -> None:
    """Swap a staged rewrite into place with a RECOVERABLE window:
    rename the current dataset aside, rename the stage in, then delete
    the old copy. The naive delete-then-rename order (ADVICE r10) has
    a crash window in which NO copy exists at ``path`` while sidecars
    may still describe it; here every non-atomic gap leaves either the
    old or the staged copy on disk under a deterministic sibling name
    (``__old`` / ``__stage``), so a crashed swap is recoverable —
    and recovery is AUTOMATIC: if a previous swap died between the
    two renames (``__old`` exists but ``path`` does not), the old
    copy is renamed back into place before this swap proceeds, so
    the next tick self-heals instead of every reader failing until a
    human intervenes. A leftover ``__old`` next to an intact ``path``
    (crash after the second rename) is cleared as before. Shared by
    every staged rewrite (manifest stats/bloom, ANN/IVF-PQ compact
    + retrain, minhash compact, table compaction)."""
    jvm, fs, p = _fs(spark, path)
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    if fs.exists(old):
        if not fs.exists(p):
            # crashed mid-swap: restore the parked copy first
            if not fs.rename(old, p):
                raise OSError(f"swap recovery rename failed: {path}__old -> {path}")
        else:
            fs.delete(old, True)
    # every rename checked: Hadoop signals failure by returning false
    # (ADVICE r12), and proceeding past a failed park/promote would
    # delete the only live copy or leave readers on the stale one
    if not fs.rename(p, old):
        raise OSError(f"swap park rename failed: {path} -> {path}__old")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(stage), p):
        # best-effort immediate restore; the __old/__stage siblings
        # also make the next tick's recovery path self-heal this
        fs.rename(old, p)
        raise OSError(f"swap promote rename failed: {stage} -> {path}")
    fs.delete(old, True)


def _replace_dataset(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Rewrite a (metadata-sized) dataset whose new contents are
    DERIVED from the old one: write to a stage sibling, then swap —
    Spark cannot overwrite a path it is still reading from."""
    stage = path.rstrip("/") + "__stage"
    df.write.mode("overwrite").parquet(stage)
    _swap_in(spark, path, stage)


def _write_json(spark: SparkSession, path: str, obj: dict) -> None:
    """Durable sidecar/journal write: create a temp sibling, then
    rename into place (the same primitive ``_swap_in`` relies on).
    These JSON files anchor the z-order swap journal and every index
    sidecar — an in-place overwrite torn by a crash would leave a
    corrupt file with no self-heal path (ADVICE r11), whereas a crash
    here leaves either the old intact file or a stray ``__tmp`` that
    the next write overwrites.

    Local paths take a native fast path with the SAME create-temp-
    then-rename shape; ``os.replace`` is atomic on POSIX, strictly
    stronger than the Hadoop delete+rename pair (no gap in which the
    sidecar is absent — :func:`_read_json`'s ``__tmp`` self-heal still
    covers journals written by the Hadoop path)."""
    local = _local_root(path, spark)
    if local is not None:
        tmp = local + "__tmp"
        with open(tmp, "w") as fh:
            fh.write(_json.dumps(obj))
        _os.replace(tmp, local)
        # Hadoop's ChecksumFileSystem leaves a `.<name>.crc` sibling
        # next to files IT wrote; after a native overwrite that crc is
        # stale and a later Hadoop read would fail the checksum —
        # drop it (and the __tmp one) so both readers stay valid
        d, n = _os.path.split(local)
        for stale in (f"{d}/.{n}.crc", f"{d}/.{n}__tmp.crc"):
            try:
                _os.unlink(stale)
            except OSError:
                pass
        return
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    tmp = jvm.org.apache.hadoop.fs.Path(path + "__tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(_json.dumps(obj).encode()))
    out.close()
    if fs.exists(p):
        fs.delete(p, False)
    # Hadoop rename reports failure by RETURNING false, not raising
    # (ADVICE r12) — a silently-unrenamed journal here would let a
    # z-order swap move/delete data files with no persisted intent,
    # reopening the crash-corruption window this primitive closes
    if not fs.rename(tmp, p):
        raise OSError(f"sidecar/journal rename failed: {path}__tmp -> {path}")


def _read_json(spark: SparkSession, path: str) -> dict:
    local = _local_root(path, spark)
    if local is not None:
        # same __tmp self-heal as the Hadoop path: a crash in the
        # Hadoop writer's delete→rename gap leaves only the fully-
        # written temp sibling — promote it and carry on
        if not _os.path.exists(local) and _os.path.exists(local + "__tmp"):
            _os.replace(local + "__tmp", local)
            d, n = _os.path.split(local)
            for stale in (f"{d}/.{n}.crc", f"{d}/.{n}__tmp.crc"):
                try:
                    _os.unlink(stale)
                except OSError:
                    pass
        with open(local) as fh:
            return _json.loads(fh.read())
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    # self-heal _write_json's delete→rename gap: a crash there leaves
    # only the fully-written __tmp sibling — promote it and carry on
    tmp = jvm.org.apache.hadoop.fs.Path(path + "__tmp")
    if not fs.exists(p) and fs.exists(tmp):
        fs.rename(tmp, p)
    stream = fs.open(p)
    try:
        return _json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()


def _stats_rows(
    spark: SparkSession,
    df: DataFrame,
    stats_cols: list[str],
    fingerprints: list[tuple[str, int, int]],
) -> DataFrame:
    """Per-file stats rows for ``df`` (which must carry a canonical
    ``_file`` column): min/max/null-count per stats column + row count,
    left-joined onto the driver-side (name, size, mtime) fingerprint
    listing so every LISTED file gets a row — a zero-row parquet file
    produces no aggregate group, but it still needs a manifest row or
    :func:`extend_file_manifest` would re-stat it forever. All of it
    is a map-side-combinable groupBy on the file name: shuffle volume
    is O(files x columns), independent of row count."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nnull_{c}"))
    stats = df.groupBy("_file").agg(*aggs)
    # local_df, NOT createDataFrame(list): the RDD-backed literal frame
    # re-enters a Python worker inside the stats-write task — measured
    # 4.4 s of blocked wait per manifest build/extend (r14, guide §4)
    fp = local_df(
        spark, fingerprints, "_file STRING, _size BIGINT, _mtime BIGINT"
    )
    return fp.join(stats, "_file", "left").withColumn(
        "n_rows", F.coalesce("n_rows", F.lit(0).cast("long"))
    )


def _bloom_rows(
    df: DataFrame, bloom_col: str, n_bits: int, n_hashes: int, seed: int
) -> DataFrame:
    """Per-file sparse bloom word table over ``bloom_col`` for a frame
    carrying ``_file`` — ``(file, word_idx, word)``, the same sparse
    representation as ``bloom.bloom_words``, mergeable per file by
    construction."""
    if n_bits % 64 != 0:
        raise ValueError(f"n_bits must be a multiple of 64, got {n_bits}")
    key = F.col(bloom_col)
    pos = F.array(*_positions(key, n_bits, n_hashes, seed))
    return (
        df.filter(key.isNotNull())
        .select("_file", F.explode(pos).alias("pos"))
        .select(
            "_file",
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
            ).alias("mask"),
        )
        .groupBy("_file", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def build_file_manifest(
    spark: SparkSession,
    path: str,
    stats_cols: list[str],
    bloom_col: str | None = None,
    n_bits: int = FILE_BLOOM_N_BITS,
    n_hashes: int = DEFAULT_N_HASHES,
    seed: int = 42,
) -> None:
    """ONE scan of the table builds the whole manifest: per file
    (``input_file_name``, canonicalized) min/max/null-count for each
    stats column, row count, a size+mtime staleness fingerprint from
    the driver-side listing, and — when ``bloom_col`` is set — a
    per-file bloom word table over that key column.

    Everything is a map-side-combinable groupBy on the file name, so
    shuffle volume is O(files x columns), independent of row count.
    After appends/compaction, :func:`extend_file_manifest` re-stats
    ONLY the files whose fingerprint is new or changed — same
    amortization as ``dedup.minhash_index_extend``.

    Citation: replaces the reference's re-read-everything history scan
    (``05.run_anomaly_detection.R:82-104``) with open-only-what-matches.
    """
    if not stats_cols and bloom_col is None:
        raise ValueError("need at least one stats column or a bloom_col")
    df = parquet_scan(spark, path).withColumn(
        "_file", _canon_col(F.input_file_name())
    )
    listing = _list_data_files(spark, path)
    stats = _stats_rows(spark, df, stats_cols, listing)
    stats.coalesce(_stats_out_parts(len(listing))).write.mode(
        "overwrite"
    ).parquet(_stats_path(path))
    if bloom_col is not None:
        _bloom_rows(df, bloom_col, n_bits, n_hashes, seed).coalesce(
            _bloom_out_parts(len(listing), n_bits)
        ).write.mode("overwrite").parquet(_bloom_path(path))
    _write_json(
        spark,
        _params_path(path),
        {
            "stats_cols": list(stats_cols),
            "bloom_col": bloom_col,
            "n_bits": n_bits,
            "n_hashes": n_hashes,
            "seed": seed,
            # stats/bloom dataset schemas are fixed at build time and
            # engine-owned: recording them lets every manifest read
            # (staleness poll, prune, bloom probe) skip a
            # footer-inference job (r14; ~0.1 s per read)
            "stats_schema": _json.dumps(stats.schema.jsonValue()),
        },
    )


def read_manifest_params(spark: SparkSession, path: str) -> dict:
    """The parameters a manifest was built with — the single source
    pruned reads must use (same contract as the minhash index)."""
    return _read_json(spark, _params_path(path))


#: the bloom word table's schema is static by construction
_BLOOM_SCHEMA = "_file STRING, word_idx BIGINT, word BIGINT"


def _read_stats(spark: SparkSession, path: str, params: dict) -> DataFrame:
    """Stats dataset read with the schema recorded at build time —
    no footer-inference job, on remote paths too. Manifests written
    before the schema was recorded take it from a footer."""
    sj = params.get("stats_schema")
    if sj is None:
        return parquet_scan(spark, _stats_path(path))
    from pyspark.sql.types import StructType

    return spark.read.schema(
        StructType.fromJson(_json.loads(sj))
    ).parquet(_stats_path(path))


#: above this many dropped names the mask stops forcing a broadcast
#: and lets AQE pick the join strategy from measured bytes — an
#: out-of-band full rewrite can make the drop-list history-sized, and
#: force-broadcasting a history-sized frame is the driver-object
#: failure mode this module exists to avoid (review finding)
MASK_BROADCAST_MAX_NAMES = 100_000


def _mask_dropped(
    df: DataFrame, drop_names: DataFrame, n_drop: int | None = None
) -> DataFrame:
    """Remove rows for dropped files with an anti-join on the file
    name — the tombstone-mask pattern (``retrieval._drop_tombstoned``),
    NOT an ``isin`` literal: at a 100 TB history with millions of
    files a drop-list folded into the plan is a plan-sized object the
    driver must serialize to every task (VERDICT r10). The broadcast
    hint is applied only while the KNOWN drop count (the diff summary
    computes it for free) stays metadata-sized; past
    ``MASK_BROADCAST_MAX_NAMES`` the degenerate everything-changed
    case falls back to AQE's own strategy choice."""
    names = drop_names.select("_file")
    if n_drop is None or n_drop <= MASK_BROADCAST_MAX_NAMES:
        names = F.broadcast(names)
    return df.join(names, "_file", "anti")


def _staleness_diff(spark: SparkSession, path: str):
    """Stored-fingerprint vs live-listing diff shared by
    :func:`manifest_staleness` (read-only report) and
    :func:`extend_file_manifest` (the repair), computed as ONE
    class-tagged full-outer JOIN between the stats frame and a listing
    frame collected in ONE action (VERDICT r10 scale shape, r14
    job-count shape — this round collapsed the previous
    checkpoint + class-count + fresh-collect three-action form into a
    single filtered collect). Driver-side objects: the FS listing
    itself (the metadata walk every table format pays — Delta/Iceberg
    read it from a log; plain directories must stat it), and the
    NON-UNCHANGED diff rows — delta-sized in the steady state, and in
    the degenerate everything-changed case exactly the size class of
    the listing the driver already holds (names + two longs). The
    unchanged majority of the history never collects. ``drop_names``
    is rebuilt as a local-literal frame from the collected names, so
    it is plan-independent by construction — it can never re-list
    files the repair swaps away, which is what the previous
    ``localCheckpoint`` pin existed to guarantee (one fewer job, same
    safety, asserted by ``tests/test_lifecycle_tmp.py``). Returns
    (stats_df, fresh, drop_names_df, summary) where ``fresh`` is
    [(name, size, mtime)] for new/changed files."""
    stats = _read_stats(spark, path, read_manifest_params(spark, path))
    if "_size" not in stats.columns or "_mtime" not in stats.columns:
        raise ValueError(
            "manifest predates staleness fingerprints: rebuild once "
            "with build_file_manifest, then extend"
        )
    old = stats.select(
        "_file",
        F.col("_size").alias("_o_size"),
        F.col("_mtime").alias("_o_mtime"),
        F.lit(True).alias("_o"),
    )
    listed = _list_data_files(spark, path)
    listing = local_df(
        spark, listed, "_file STRING, _size BIGINT, _mtime BIGINT"
    ).withColumn("_l", F.lit(True))
    same = (F.col("_size") == F.col("_o_size")) & (
        F.col("_mtime") == F.col("_o_mtime")
    )
    diff_rows = (
        listing.join(old, "_file", "full_outer")
        .select(
            "_file",
            "_size",
            "_mtime",
            F.when(F.col("_o").isNull(), F.lit("new"))
            .when(F.col("_l").isNull(), F.lit("deleted"))
            .when(same, F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("_class"),
        )
        .filter(F.col("_class") != "unchanged")
        .collect()
    )
    n_new = sum(1 for r in diff_rows if r._class == "new")
    n_changed = sum(1 for r in diff_rows if r._class == "changed")
    n_deleted = len(diff_rows) - n_new - n_changed
    # fresh = listed files whose (name, size, mtime) fingerprint is
    # absent from the stored stats: new files + rewritten files —
    # delta-sized: the repair must name these files to re-stat them
    fresh = sorted(
        (r._file, r._size, r._mtime)
        for r in diff_rows
        if r._class in ("new", "changed")
    )
    summary = {
        "n_new": n_new,
        "n_changed": n_changed,
        "n_deleted": n_deleted,
        # every listed file is new, changed or unchanged — the
        # unchanged count needs no second aggregate
        "n_unchanged": len(listed) - n_new - n_changed,
    }
    drop_names = local_df(
        spark,
        [(r._file,) for r in diff_rows if r._class in ("changed", "deleted")],
        "_file STRING",
    )
    return stats, fresh, drop_names, summary


def manifest_staleness(spark: SparkSession, path: str) -> dict:
    """Read-only staleness report for a file manifest — the
    monitoring twin of :func:`extend_file_manifest`, answering "can
    this manifest be trusted for a pruned read right now?" without
    mutating anything. Compares the stored size+mtime fingerprints
    against a fresh driver-side listing (no data files are opened)
    and returns ``{"n_new", "n_changed", "n_deleted", "n_unchanged",
    "stale"}``. A scheduler polls this before a pruned scan: ``stale``
    False → read with skipping immediately; True → run
    :func:`extend_file_manifest` first (delta-sized) and then read.
    This is the manifest's face of the lifecycle monitoring surface
    (``retrieval.index_stats`` / ``dedup.minhash_index_stats`` for
    the vector and near-dup indexes). Cost: the FS listing plus ONE
    collect job (:func:`_staleness_diff` — empty on a fresh manifest)
    — the poll-path shape the idle-tick scale record prices."""
    _, _, _, summary = _staleness_diff(spark, path)
    summary = dict(summary)
    summary["stale"] = bool(
        summary["n_new"] or summary["n_changed"] or summary["n_deleted"]
    )
    return summary


def maintain_file_manifest(spark: SparkSession, path: str) -> dict:
    """The manifest's maintenance tick, completing the symmetry with
    ``retrieval.maintain_vector_index`` / ``dedup.maintain_minhash_index``:
    one read-only staleness check (:func:`manifest_staleness`, a
    driver-side listing diff — zero data files opened), and ONLY if
    stale, the delta-sized repair (:func:`extend_file_manifest`).
    Returns the staleness report with ``"repaired"`` added — False
    means the tick cost one file listing and nothing else, so a
    scheduler can run it before every pruned read.

    Cost shape (r14): the poll's diff IS the repair's input —
    :func:`_staleness_diff` runs once and the stale path hands its
    frames straight to :func:`extend_file_manifest`, so the repair
    never pays a second listing walk or a second fingerprint join
    (previously it re-derived both; on an object store the listing
    walk alone is one RPC per 1000 files). The no-op poll keeps its
    one-collect optimum."""
    diff = _staleness_diff(spark, path)
    report = dict(diff[3])
    report["stale"] = bool(
        report["n_new"] or report["n_changed"] or report["n_deleted"]
    )
    report["repaired"] = False
    if report["stale"]:
        extend_file_manifest(spark, path, _diff=diff)
        report["repaired"] = True
    return report


def extend_file_manifest(spark: SparkSession, path: str, _diff=None) -> dict:
    """Bring an existing manifest up to date by scanning ONLY the
    files whose size+mtime fingerprint is absent (appended files) or
    different (rewritten files) from the stored stats; rows for
    deleted or rewritten files are dropped. The steady-state loop for
    the reference's append-heavy history regime
    (``05.run_anomaly_detection.R:82-104``: every run lands a new
    snapshot under the same prefix) becomes append -> extend ->
    pruned read, and the 100 TB prefix is stat-scanned exactly once,
    ever — the same delta-sized amortization as
    ``dedup.minhash_index_extend`` / ``retrieval.extend_ann_index``.

    Exactness: stats and bloom words are per-file, so (rows kept for
    unchanged files) UNION (rows rebuilt for new/changed files) is
    bit-identical to a full rebuild — gate-checked by
    ``incremental_manifest_extend`` and hash-asserted against a
    rebuild in ``tests/test_skipping.py``.

    Scale shape (VERDICT r10): the stored-vs-listed diff is computed
    as joins between the stats frame and a listing frame
    (:func:`_staleness_diff`), and dropped files are masked with a
    broadcast anti-join (:func:`_mask_dropped`) — the history-sized
    file set never collects to the driver and never becomes an
    ``isin`` plan literal; only the delta-sized fresh-file list (the
    paths the re-stat scan must open) and the summary counts do.

    Returns a summary dict: ``{"n_new", "n_changed", "n_deleted",
    "n_unchanged"}``. ``_diff`` lets :func:`maintain_file_manifest`
    hand in the staleness diff its poll already computed (one listing
    walk + one collect for the whole tick); direct callers leave it
    None and pay the diff here.
    """
    params = read_manifest_params(spark, path)
    stats, fresh, drop_names, summary = (
        _diff if _diff is not None else _staleness_diff(spark, path)
    )
    n_drop = summary["n_changed"] + summary["n_deleted"]
    if not fresh and not n_drop:
        return summary  # fingerprints all current: zero data files read
    new_df = None
    if fresh:
        # basePath reconstructs hive partition columns from the leaf
        # paths, same contract as read_with_skipping's pruned scan
        new_df = parquet_scan(spark, path, [n for n, _, _ in fresh]).withColumn(
            "_file", _canon_col(F.input_file_name())
        )
    if not n_drop:
        # append-only repair (the steady-state ingest tick): the kept
        # rows are untouched on disk, so APPEND the delta-sized stats
        # rows instead of read + union + full stats rewrite + swap —
        # per-file rows make append == rebuild bit-for-bit (r14; the
        # stats dataset stays one-file-per-tick until the next full
        # build/compaction resets it, still manifest-sized)
        _stats_rows(spark, new_df, params["stats_cols"], fresh).coalesce(
            _stats_out_parts(len(fresh))
        ).write.mode("append").parquet(_stats_path(path))
        if params.get("bloom_col") is not None:
            _bloom_rows(
                new_df,
                params["bloom_col"],
                params["n_bits"],
                params["n_hashes"],
                params["seed"],
            ).coalesce(
                _bloom_out_parts(len(fresh), params["n_bits"])
            ).write.mode("append").parquet(_bloom_path(path))
        return summary
    # drop_names is a local-literal frame (built from collected names),
    # so the mask can never re-list files this function swaps away
    # during the stats/bloom rewrite below
    kept = _mask_dropped(stats, drop_names, n_drop)
    # post-repair table file count (listed files = new+changed+unchanged)
    n_listed = summary["n_new"] + summary["n_changed"] + summary["n_unchanged"]
    if new_df is not None:
        kept = kept.unionByName(
            _stats_rows(spark, new_df, params["stats_cols"], fresh)
        )
    _replace_dataset(
        spark, kept.coalesce(_stats_out_parts(n_listed)), _stats_path(path)
    )
    if params.get("bloom_col") is not None:
        words = spark.read.schema(_BLOOM_SCHEMA).parquet(_bloom_path(path))
        words = _mask_dropped(words, drop_names, n_drop)
        if new_df is not None:
            words = words.unionByName(
                _bloom_rows(
                    new_df,
                    params["bloom_col"],
                    params["n_bits"],
                    params["n_hashes"],
                    params["seed"],
                )
            )
        _replace_dataset(
            spark,
            words.coalesce(_bloom_out_parts(n_listed, params["n_bits"])),
            _bloom_path(path),
        )
    return summary


#: op -> file-may-match condition over (min_c, max_c). NULL min/max
#: (all-NULL file) makes every condition NULL -> filtered out, which
#: is sound: a comparison predicate never matches NULL rows.
_RANGE_OPS = {
    "=": lambda mn, mx, v: (mn <= v) & (mx >= v),
    "<": lambda mn, mx, v: mn < v,
    "<=": lambda mn, mx, v: mn <= v,
    ">": lambda mn, mx, v: mx > v,
    ">=": lambda mn, mx, v: mx >= v,
    "between": lambda mn, mx, v: (mn <= v[1]) & (mx >= v[0]),
}


def _file_match_cond(predicates: list[tuple]) -> Column:
    cond = F.lit(True)
    for col, op, val in predicates:
        if op not in _RANGE_OPS:
            raise ValueError(
                f"unsupported op {op!r}: use one of {sorted(_RANGE_OPS)}"
            )
        cond = cond & _RANGE_OPS[op](
            F.col(f"min_{col}"), F.col(f"max_{col}"), F.lit(val) if op != "between" else val
        )
    return cond


def _row_pred(predicates: list[tuple]) -> Column:
    cond = F.lit(True)
    for col, op, val in predicates:
        c = F.col(col)
        if op == "=":
            cond = cond & (c == val)
        elif op == "<":
            cond = cond & (c < val)
        elif op == "<=":
            cond = cond & (c <= val)
        elif op == ">":
            cond = cond & (c > val)
        elif op == ">=":
            cond = cond & (c >= val)
        elif op == "between":
            cond = cond & c.between(val[0], val[1])
    return cond


def prune_files(
    spark: SparkSession, path: str, predicates: list[tuple]
) -> tuple[list[str], int]:
    """(files that may match, total files) from the stats manifest.
    The manifest scan is file-count-sized; only the kept NAMES are
    collected (metadata-sized, like the probed-cid collect)."""
    params = read_manifest_params(spark, path)
    stats = _read_stats(spark, path, params)
    for col, _, _ in predicates:
        if col not in params["stats_cols"]:
            raise ValueError(
                f"no min/max stats for {col!r}: manifest covers "
                f"{params['stats_cols']}"
            )
    # ONE aggregate job returns both outputs (collect_list skips the
    # NULL/non-matching names): the previous count() + filter().collect()
    # pair paid a second manifest-scan job whose result
    # read_with_skipping discarded (r14, guide §1.2 "don't compute
    # things you throw away"). Only kept names reach the driver.
    row = stats.agg(
        F.count(F.lit(1)).alias("total"),
        F.sort_array(
            F.collect_list(F.when(_file_match_cond(predicates), F.col("_file")))
        ).alias("kept"),
    ).collect()[0]
    return list(row.kept), row.total


def bloom_candidate_files(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str,
) -> list[str]:
    """Files whose per-file bloom MIGHT contain at least one probe
    key. A key hits a file iff every one of its ``n_hashes`` bit
    positions is set in that file's words (no false negatives); the
    probe is a broadcast join of the key positions against the word
    table — only file NAMES are collected."""
    params = read_manifest_params(spark, path)
    if params.get("bloom_col") is None:
        raise ValueError(f"manifest at {path!r} was built without a bloom")
    n_bits, n_hashes, seed = params["n_bits"], params["n_hashes"], params["seed"]
    probe = (
        keys.select(F.col(key_col).alias("k"))
        .filter(F.col("k").isNotNull())
        .distinct()
        .select(
            "k",
            F.explode(F.array(*_positions(F.col("k"), n_bits, n_hashes, seed))).alias(
                "pos"
            ),
        )
        .select(
            "k",
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
            ).alias("mask"),
        )
    )
    words = spark.read.schema(_BLOOM_SCHEMA).parquet(_bloom_path(path))
    hits = (
        words.join(F.broadcast(probe), "word_idx")
        .filter((F.col("word").bitwiseAND(F.col("mask"))) == F.col("mask"))
        .groupBy("_file", "k")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == n_hashes)
        .select("_file")
        .distinct()
        .collect()
    )
    return sorted(r._file for r in hits)


def read_with_skipping(
    spark: SparkSession,
    path: str,
    predicates: list[tuple] | None = None,
    in_keys: tuple[str, DataFrame] | None = None,
) -> DataFrame:
    """Scan only the files that can match, then re-apply the EXACT
    predicate — result equals ``read.parquet(path).filter(...)``
    bit-for-bit (the oracle contract), having opened only the kept
    files.

    ``predicates`` are ``(col, op, value)`` triples (op in =, <, <=,
    >, >=, between with value=(lo, hi)), ANDed; ``in_keys =
    (key_col, keys_df)`` adds a point-lookup leg: bloom-prune files,
    then an exact broadcast semi join against the keys (keys never
    collect to the driver — the scale path for large key sets)."""
    predicates = list(predicates or [])
    files: set[str] | None = None
    if predicates:
        kept, _ = prune_files(spark, path, predicates)
        files = set(kept)
    if in_keys is not None:
        key_col, keys_df = in_keys
        cand = set(bloom_candidate_files(spark, path, keys_df, key_col))
        files = cand if files is None else files & cand
    if files is None:
        raise ValueError("need predicates and/or in_keys to skip by")
    if not files:
        # schema-stable empty result without opening any data file
        out = parquet_scan(spark, path).filter(F.lit(False))
    else:
        # parquet_scan sets basePath, which reconstructs hive partition
        # columns from the kept leaf paths — without it a partitioned
        # layout would silently lose its partition columns and the
        # result would no longer equal read.parquet(path).filter(...)
        # (ADVICE r8)
        out = parquet_scan(spark, path, sorted(files))
    if predicates:
        out = out.filter(_row_pred(predicates))
    if in_keys is not None:
        key_col, keys_df = in_keys
        out = out.join(
            F.broadcast(keys_df.select(key_col).distinct()), key_col, "semi"
        )
    return out
