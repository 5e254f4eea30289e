"""The benchmark's workloads and entries.

An entry is one unit of client work, run closed-loop one after
another. ``build(spark, data_dir)`` constructs the entry's output (for
the lifecycle entries this includes their eager index and table
writes); ``sink(built)`` materializes it and returns
``(columns, rows, frames)``: the result the output check compares
(``columns`` is ``None`` when ``rows`` is the cleaning DAG's dict of
invariants) and the frames whose Catalyst phases a traced run reads.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

#: Input scale: sf0.01 (15,000 orders, 60,000 lineitem rows, 500
#: documents and embeddings).
SF = 0.01

CLEANING_DAG = "cleaning_dag_e2e"

WORKLOADS: dict[str, tuple[str, ...]] = {
    # the read side: the composed cleaning DAG plus short trial reports
    # (read/shuffle/aggregate, where per-query planning and py4j
    # overhead show) and short corpus entries: line dedup, token-budget
    # sample and Arrow cosine top-k (Python workers)
    "trial_etl": (
        CLEANING_DAG,
        "rdt_state_machine",
        "asof_weekly_snapshots",
        "pivot_status_by_month",
        "latest_order_per_customer",
        "spatial_cluster_assign",
        "line_dedup_corpus",
        "token_budget_take",
        "cosine_fixedq_arrow",
    ),
    # the write side: lifecycle ticks that write and maintain tables and
    # indexes through many small eager Spark jobs (CDC lakehouse, MinHash
    # index, Z-order layout with a file manifest, IVF-PQ index extend)
    "lakehouse_ticks": (
        "lakehouse_cdc_e2e",
        "minhash_index_delete_probe",
        "zorder_fold_scan",
        "incremental_ivfpq_ann",
    ),
}

#: the tables each workload's entries and oracles read; only these are
#: generated. The cleaning DAG's form is derived from ``events``, which
#: is built in memory and not written.
READS: dict[str, tuple[str, ...]] = {
    "trial_etl": ("customer", "orders", "documents", "embeddings"),
    "lakehouse_ticks": ("customer", "orders", "lineitem", "documents", "embeddings"),
}


@dataclass
class Entry:
    name: str
    build: Callable[[Any, str], Any]
    sink: Callable[[Any], Any]


def registered_entry(name: str, queries: dict) -> Entry:
    """A registered query: ``queries[name](spark, data_dir)`` builds the
    frame, and collecting it is the sink."""

    def sink(df):
        rows = df.collect()
        return df.columns, rows, [df]

    return Entry(name, queries[name], sink)


def cleaning_entry(raw_path: str, resolution_path: str) -> Entry:
    """raw -> clean -> sanitized + anomalies, the reference's daily
    cleaning batch. The three zone outputs go to the ``noop`` sink;
    observed metrics on the sanitized and anomaly frames and the
    collected summary rollup feed the output check."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bohemia_kenya_data_pipeline_spark import jobs
    from bohemia_kenya_data_pipeline_spark.operators import quality as ql

    def build(spark, data_dir):
        raw = spark.read.parquet(raw_path)
        resolution = spark.read.parquet(resolution_path)
        clean = jobs.clean_form(
            raw.withColumn("age", F.col("age").try_cast("double")),
            resolution,
            "bench",
            typo_fixes={"village": {"CLICK": "CLICKED"}},
        ).persist()
        sanitized = jobs.sanitize_form(clean, ["firstname"], ["instanceID", "hhid"])
        keyed = clean.withColumnRenamed("instanceID", "KEY")
        final, summary = jobs.run_anomaly_detection(
            [
                lambda: ql.detect_threshold(
                    keyed, "Accuracy", "bench", "gps_accuracy", "GPS accuracy above 15m", 15.0
                ),
                lambda: ql.detect_duplication(keyed, "hhid", "bench", "dup_hhid"),
            ]
        )
        return clean, sanitized, final.persist(), summary

    def sink(built):
        clean, sanitized, final, summary = built
        try:
            obs_s, obs_f = Observation("sanitized"), Observation("anomalies")
            s_obs = sanitized.observe(
                obs_s,
                F.count(F.lit(1)).alias("kept"),
                F.sum("age").alias("age_sum"),
                F.count(F.when(F.col("village") == "CLICKED", 1)).alias("clicked"),
            )
            f_obs = final.observe(obs_f, F.count(F.lit(1)).alias("anomalies"))
            for df in (s_obs, f_obs):
                df.write.format("noop").mode("overwrite").save()
            rows = summary.collect()
            got = {**obs_s.get, **obs_f.get}
        finally:
            final.unpersist()
            clean.unpersist()
        got["age_sum"] = round(float(got["age_sum"] or 0.0), 6)
        got["detectors"] = {r["anomalies_id"]: int(r["anomalies_count"]) for r in rows}
        return None, got, [s_obs, f_obs, summary]

    return Entry(CLEANING_DAG, build, sink)


def entries(names, odk_paths, queries: dict) -> list[Entry]:
    """``odk_paths`` is ``(raw_path, resolution_path)``, needed only
    when ``names`` holds the cleaning DAG."""
    return [
        cleaning_entry(*odk_paths) if n == CLEANING_DAG else registered_entry(n, queries)
        for n in names
    ]
