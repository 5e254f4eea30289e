"""Catalog: table registry + zoned readers/writers (SURVEY §2.1).

The reference moves ODK form tables through S3 "zones"
(raw -> clean -> sanitized -> lake parquet -> dwh, with Hive-style
date-partitioned history; SURVEY §1.1). Here the catalog is explicit:

- :func:`read_table` / :func:`load_tables` — parquet scans of a zone
  directory (the driver testdata dirs act as a zone).
- :func:`read_csv_form` — schema'd CSV read (S1/S2): **no inference in
  production paths**; pass the registered StructType.
- :func:`read_form_tree` — bulk prefix scan (S3) tagging each row with
  its ``form_id`` parsed from the file path (reference does this with
  ``list.files`` + filename regex, 01.run_form_cleaning.R:72-87).
- :func:`write_parquet` (S8), :func:`write_csv` (S7, optional
  single-file contract), :func:`write_history_partition` (S9) —
  Hive-partitioned append under ``partition_date=...``.
- :func:`dedup_on_ingest` (S15).

Scale note: everything returns/consumes lazy DataFrames; sinks use
``partitionBy`` so downstream reads get partition pruning for free. At
100 TB the zone paths are ``s3a://`` URIs — same code path, and
``tests/test_s3a_object_store.py`` round-trips these functions through
a moto S3 server to prove it (the suite gates on the hadoop-aws jars,
which every real Spark-on-S3 deployment ships but this container
cannot download; it skips here with that exact reason).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

#: Tables the driver harness materializes per scale factor (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_table(spark: SparkSession, zone_dir: str, name: str) -> DataFrame:
    """Parquet scan of one table in a zone directory."""
    return spark.read.parquet(os.path.join(zone_dir, f"{name}.parquet"))


def load_tables(
    spark: SparkSession, zone_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load every table of a zone into a dict of lazy DataFrames."""
    return {n: read_table(spark, zone_dir, n) for n in names}


# --------------------------------------------------------------------------
# Form-zone IO (reference: CSV in, parquet serving layer)
# --------------------------------------------------------------------------


def read_csv_form(
    spark: SparkSession,
    path: str,
    schema: StructType,
    empty_string_as_null: bool = True,
    corrupt_record_col: str | None = None,
) -> DataFrame:
    """S1/S2: read one form CSV with a *declared* schema.

    The reference freads with inferred schemas and repairs names
    defensively; we require a registered StructType instead (SURVEY
    §1.2 design decision). ``""`` -> NULL normalization is the engine
    default (SURVEY §7.4.3) with per-call opt-out.

    ``corrupt_record_col``: audited-ingest mode — malformed rows keep
    their raw line in this extra column (PERMISSIVE capture) instead of
    silently nulling fields, so a 100 TB ingest can route rejects to a
    quarantine zone without a second pass over the source. NOTE:
    Spark refuses filters that reference ONLY the corrupt-record
    column of a raw CSV frame — ``.cache()`` (or persist) the frame
    first, then split it with ``col(c).isNull()`` / ``isNotNull()``
    (see tests/test_pipeline_e2e.py for the working pattern).
    """
    if corrupt_record_col is not None:
        from pyspark.sql.types import StringType

        schema = StructType(
            list(schema.fields) + [StructField(corrupt_record_col, StringType())]
        )
    reader = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .schema(schema)
    )
    if corrupt_record_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_record_col)
    if empty_string_as_null:
        reader = reader.option("nullValue", "").option("treatEmptyValuesAsNulls", "true")
    return reader.csv(path)


def read_form_tree(
    spark: SparkSession, prefix: str, schema: StructType | None = None
) -> DataFrame:
    """S3: recursive prefix scan; tag rows with form_id from the path.

    Mirrors the reference's bulk S3 get + filename parse
    (01.run_form_cleaning.R:56-87) with a single distributed scan:
    ``input_file_name()`` + regex instead of a driver-side file loop.
    """
    reader = spark.read.option("header", "true").option("recursiveFileLookup", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(prefix)
    return df.withColumn(
        "form_id", F.regexp_extract(F.input_file_name(), r"([^/]+)/[^/]+$", 1)
    )


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S8: columnar serving-layer sink."""
    df.write.mode(mode).parquet(path)


def write_csv(df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite") -> None:
    """S7/S10: CSV sink; ``single_file`` mirrors the reference's
    one-file-per-form layout (coalesce(1) — only for small outputs)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", "true").csv(path)


def write_history_partition(
    df: DataFrame,
    path: str,
    partition_col: str = "partition_date",
    partition_value: str | None = None,
) -> None:
    """S9: append a dated snapshot under ``partition_date=...``.

    Reference: 05.run_anomaly_detection.R:82-86 writes
    ``anomalies_detection_hist/partition_date={today}/``. Partition
    pruning then makes as-of reads cheap at any scale.
    """
    col = F.lit(partition_value) if partition_value is not None else F.current_date().cast("string")
    (
        df.withColumn(partition_col, col)
        .write.mode("append")
        .partitionBy(partition_col)
        .parquet(path)
    )


def _with_corrupt_schema(
    schema: StructType | str, mode: str, corrupt_col: str
) -> StructType:
    """Single source of the batch/streaming JSONL schema contract:
    parse a DDL string and, under PERMISSIVE, append the corrupt-record
    column (StringType) unless the caller already declared it — both
    readers promise identical quarantine behavior, so the logic must
    not fork."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if mode.upper() == "PERMISSIVE" and corrupt_col not in schema.fieldNames():
        return StructType(list(schema.fields) + [StructField(corrupt_col, StringType())])
    return schema


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Line-delimited JSON (JSONL) source — the interchange format of
    every large text/training-data pipeline (one JSON object per line).

    Schema is **mandatory**: inference is a full extra pass over the
    data (ruinous at 100 TB) and can silently widen types between runs.
    JSONL is line-splittable, so Spark parallelizes the scan across
    executors exactly like CSV — unlike ``multiLine`` JSON, which forces
    one task per file; never land multi-line JSON at scale.

    ``mode``:
    - ``PERMISSIVE`` (default): malformed lines land whole in
      ``corrupt_col`` (added to the schema here) with all data columns
      NULL — route them to quarantine via
      ``jobs.ingest.gated_ingest``-style gates instead of crashing a
      100 TB job on one bad line;
    - ``DROPMALFORMED`` / ``FAILFAST``: Spark's standard semantics.

    Spark limitation worth knowing: a query that references ONLY the
    corrupt column (e.g. ``df.filter(corrupt.isNotNull()).count()``)
    raises ``UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN`` —
    select at least one data column alongside it (or persist first)
    when inspecting quarantined lines.
    """
    full = _with_corrupt_schema(schema, mode, corrupt_col)
    return (
        spark.read.schema(full)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured Streaming JSONL source: files appearing under
    ``path`` become micro-batches — the continuous-ingest form of
    :func:`read_jsonl` (a crawler/scraper drops ``*.jsonl`` shards; the
    pipeline picks them up incrementally, exactly-once per file).

    Same mandatory-schema + corrupt-column contract as the batch
    reader, so one downstream quarantine/clean/dedup graph serves both.
    ``max_files_per_trigger`` bounds a micro-batch when a backlog lands
    at once (without it the first trigger tries the whole backlog)."""
    full = _with_corrupt_schema(schema, mode, corrupt_col)
    reader = (
        spark.readStream.schema(full)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    mode: str = "overwrite",
    keep_nulls: bool = True,
    compression: str | None = None,
) -> None:
    """JSONL sink (one JSON object per line, UTF-8).

    ``keep_nulls=True`` writes explicit ``"col": null`` fields
    (``ignoreNullFields=false``) so round-tripping preserves the row
    shape and downstream consumers that distinguish missing-vs-null see
    null; Spark's default silently drops null fields. Timestamps
    serialize ISO-8601; binary columns are NOT JSON-safe — base64 them
    first (``F.base64``). ``single_file`` coalesces to one part file
    (small exports only — same contract as :func:`write_csv`).

    ``compression``: ``gzip``/``zstd``/``bzip2``/``none``. Scale
    tradeoff — compressed JSONL part files are NOT line-splittable
    (one task per file on read), so at 100 TB write MANY medium
    (~128 MB) parts rather than few huge ones; parallelism then comes
    from file count instead of in-file splits. Uncompressed JSONL
    splits by line like CSV."""
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode(mode).option(
        "ignoreNullFields", "false" if keep_nulls else "true"
    )
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
    bloom_filter_cols: list[str] | None = None,
) -> None:
    """ORC sink — the second columnar serving format next to parquet
    (S8 family), for consumers standardized on the Hive/ORC stack.

    Scale notes vs the JSONL sink: ORC is **stripe-splittable under
    any codec** (compression happens inside stripes), so unlike
    compressed JSONL a 100 TB ORC dataset parallelizes by stripe no
    matter how it was written. ``compression``: ``snappy`` (Spark
    default) / ``zstd`` / ``zlib`` / ``lzo`` / ``none``.

    ``bloom_filter_cols`` embeds per-stripe bloom filters for the named
    columns (``orc.bloom.filter.columns``) — point lookups on a key
    column (e.g. ``doc_id``) then skip whole stripes at read time, the
    same stripe-pruning trick the reference gets from its Hive layout.
    """
    writer = df.write.mode(mode)
    if compression is not None:
        writer = writer.option("compression", compression)
    if bloom_filter_cols:
        writer = writer.option("orc.bloom.filter.columns", ",".join(bloom_filter_cols))
    writer.orc(path)


def read_orc(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """ORC source. Unlike CSV/JSONL, the schema ships in the file
    footer, so omitting ``schema`` costs no inference pass; pass one
    anyway on production ingest boundaries to pin the contract (a
    producer-side column rename/retype then fails loudly at plan time
    instead of flowing NULLs downstream). Spark's vectorized ORC
    reader applies predicate pushdown + stripe pruning exactly like
    the parquet path (plan-asserted in tests/test_catalog.py).
    """
    reader = spark.read
    if schema is not None:
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        reader = reader.schema(schema)
    return reader.orc(path)


def write_text_corpus(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    """Raw-text sink: one line per record, no header, no quoting — the
    ``*.txt`` shard format plain-text corpus tooling exchanges.

    Contract: records ARE lines. A value with an embedded ``\\n``
    comes back as multiple records (assert-covered in tests) — callers
    must normalize newlines first (``F.regexp_replace``) or use JSONL,
    which escapes them. NULLs are rejected by Spark's text writer;
    filter or ``F.coalesce`` them explicitly rather than relying on a
    silent drop here. Same splittability economics as JSONL: plain
    text splits by line, compressed part files don't — many ~128 MB
    parts at scale."""
    writer = df.select(F.col(text_col).cast("string")).write.mode(mode)
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.text(path)


def read_text_corpus(
    spark: SparkSession,
    path: str,
    wholetext: bool = False,
    include_path: bool = False,
    recursive: bool = True,
) -> DataFrame:
    """Raw-text source: ``value`` = one line (or, with
    ``wholetext=True``, one whole file per row — for corpora where the
    FILE is the document, e.g. one article per ``.txt``).

    ``wholetext`` kills in-file split parallelism (one task per file)
    and buffers each file in one row — only for many-small-file
    layouts, never few-huge-file ones. ``include_path`` adds the
    ``source_file`` column via ``input_file_name()`` so provenance
    survives into the pipeline (the same path-tagging trick as
    :func:`read_form_tree`)."""
    reader = spark.read.option("recursiveFileLookup", str(recursive).lower())
    # NB: must be the text() kwarg, not .option("wholetext", ...) —
    # DataFrameReader.text re-sets the option from its own parameter,
    # silently clobbering a pre-set option (probed on pyspark 4.1)
    df = reader.text(path, wholetext=wholetext)
    if include_path:
        df = df.withColumn("source_file", F.input_file_name())
    return df


def read_parquet_evolving(
    spark: SparkSession,
    path: str,
    contract: StructType | str,
    on_extra: str = "drop",
) -> DataFrame:
    """Read a parquet dataset whose shards have DRIFTED (a long-lived
    landing zone: early files miss later columns, a producer widened a
    type, another added fields) reconciled to a pinned ``contract``
    schema, exploiting the parquet reader's per-file schema evolution
    (probed on pyspark 4.1):

    - columns missing from a shard come back as typed NULLs (the only
      correct reading of "this shard predates the column");
    - shard types that are a lossless widening toward the contract
      (int→bigint, float→double, …) are upcast IN the vectorized
      reader; anything else — string vs numeric, narrowing, date vs
      timestamp — fails LOUD at scan time with
      ``FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH`` naming
      the offending file (silent coercion is how a drifted producer
      corrupts a decade of history; note Spark's ``mergeSchema``
      cannot express this at all — it hard-fails on ANY type conflict
      between shards, ``CANNOT_MERGE_SCHEMAS``);
    - ``on_extra``: ``drop`` (default) never even reads columns the
      contract doesn't know; ``fail`` raises ``ValueError`` when any
      shard carries extras (strict ingest boundary); ``keep`` appends
      them, typed from the union of footers, after the contract
      columns.

    Scale note: the ``drop`` path is ONE declared-schema scan — no
    footer-merge pass at all, and pruning/pushdown work on the
    contract columns as on any scan. ``keep``/``fail`` pay one
    ``mergeSchema`` footer pass (metadata-only) to discover extras,
    so they additionally require drift-free types among the extras
    themselves.
    """
    if on_extra not in ("drop", "fail", "keep"):
        raise ValueError(f"on_extra must be drop/fail/keep, got {on_extra!r}")
    if isinstance(contract, str):
        contract = StructType.fromDDL(contract)
    if on_extra == "drop":
        return spark.read.schema(contract).parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    known = {f.name for f in contract.fields}
    extras = [f for f in merged.schema.fields if f.name not in known]
    if extras and on_extra == "fail":
        raise ValueError(
            "read_parquet_evolving: unexpected columns "
            f"{sorted(f.name for f in extras)} (on_extra='fail')"
        )
    full = StructType(list(contract.fields) + extras)
    return spark.read.schema(full).parquet(path)


def dedup_on_ingest(df: DataFrame, keys: list[str]) -> DataFrame:
    """S15: drop duplicates on ingest keys (get_ever_resolved.py:7-9)."""
    return df.dropDuplicates(keys)


def list_files_as_table(spark: SparkSession, prefix: str) -> DataFrame:
    """S14: a recursive file listing as a DataFrame (key, size,
    last_modified) — the reference's aws_s3_get_catalog
    (pipeline-reporting/R/consolidate/index.Rmd:69-84).

    Uses Spark's binaryFile source metadata columns (path/length/
    modificationTime) so the listing itself is distributed — no
    driver-side os.walk; works identically on s3a:// prefixes.
    """
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(prefix)
        .select(
            F.col("path").alias("key"),
            F.col("length").alias("size"),
            F.col("modificationTime").alias("last_modified"),
        )
    )


def read_landed_sheet(
    spark: SparkSession,
    path: str,
    schema: StructType,
    dedup_keys: list[str] | None = None,
) -> DataFrame:
    """S5/S15: read a Google-Sheets-landed CSV (the ingestion job
    lands the sheet as CSV; the engine never talks to the Sheets API —
    SURVEY §2.1 design). Optionally dedup on ingest keys, as the
    resolution-history reader does (get_ever_resolved.py:7-9)."""
    df = read_csv_form(spark, path, schema)
    return df.dropDuplicates(dedup_keys) if dedup_keys else df


def export_sheet_csv(df: DataFrame, path: str, max_rows: int = 20000) -> None:
    """S12: stage an engine result for the Sheets export job as one
    CSV file. The reference's pygsheets writer caps worksheets at
    20k rows (ento_populate.py:98,126) — enforce the cap here so the
    export job never silently truncates."""
    # pin one materialization: without persist the cap check and the
    # write re-execute the plan and can see different rows.
    df = df.persist()
    try:
        n = df.count()
        if n > max_rows:
            raise ValueError(f"sheet export cap exceeded: {n} > {max_rows} rows")
        write_csv(df, path, single_file=True)
    finally:
        df.unpersist()


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int,
    path: str,
    sort_keys: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a fact table bucketed (and optionally sorted) on its
    join keys — pay the shuffle ONCE at write time; every later join
    or groupBy on those keys runs with zero exchange (plan-asserted in
    tests/test_bucketing.py with broadcast disabled).

    This is the 100 TB strategy for a fact table that every downstream
    query joins on the same key (e.g. form tables on instanceID, the
    corpus on doc_id). Bucketing requires the table catalog, hence
    ``saveAsTable`` with an explicit external ``path``; read back with
    :func:`read_bucketed` (``spark.table`` — a plain
    ``read.parquet(path)`` would drop the bucket metadata and
    re-shuffle).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if not keys:
        raise ValueError("write_bucketed needs at least one bucket key")
    w = (
        df.write.bucketBy(n_buckets, *keys)
        .sortBy(*(sort_keys or keys))
        .option("path", path)
        .mode(mode)
    )
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a table written by :func:`write_bucketed`, keeping its
    bucket metadata (exchange-free joins/aggs on the bucket keys)."""
    return spark.table(table)
